"""Whole-batch-or-nothing directory commits for streaming collectors.

One implementation of the write-to-hidden-tmp + atomic-rename protocol
shared by every foreachBatch collector that appends per-batch mergeable
relations (`quantiles.hist_collector`, `atomic.tombstones_collector`) —
a single place to hold the three load-bearing details:

- the tmp directory is dot-prefixed (invisible to Spark readers) AND
  pid-suffixed, so two writers racing on the same batch id (a zombie
  driver plus its restarted replacement) each write a PRIVATE tmp —
  neither can overwrite the other mid-write and rename a torn file set;
- a failed rename is only swallowed when the final directory EXISTS
  (a racer committed the identical batch); any other failure re-raises,
  because silently dropping a batch is data loss — for a MinHash gate
  it is silently missed duplicates, for a count sketch it is lost mass;
- a replayed batch (at-least-once delivery) finds its committed
  directory and writes nothing, which is the CORRECTNESS mechanism for
  additive relations (counts would double-add).

Filesystem contract: ``commit_batch_dir`` needs a filesystem the DRIVER
can atomically os.rename on (local disk, NFS, HDFS FileContext) — which
is where these collectors' parquet writes land in local/test
deployments.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

__all__ = [
    "GenerationSupersededError",
    "anti_join_tombstones",
    "batch_data_paths",
    "collector_root",
    "commit_batch_dir",
    "compact_batches",
    "replay_floor",
    "tombstone_ids",
    "tombstones_collector",
]

_CURRENT = "CURRENT"
# underscore-prefixed like _SUCCESS: Spark's hidden-path rule skips it,
# so a recursiveFileLookup parquet read of a generation dir never trips
# over the metadata file
_FLOOR = "_COMPACTED_THROUGH"


def collector_root(path: str) -> str:
    """Resolve the ACTIVE generation directory of a collector dataset.

    A freshly created collector writes ``batch-<id>`` dirs directly
    under ``path`` (v1 layout).  After ``compact_batches`` the dataset
    becomes generational: ``path/CURRENT`` (a tiny text file, replaced
    by atomic rename) names the live ``gen-<n>`` subdirectory, and every
    reader/writer resolves through it — so a compaction flip is ONE
    atomic pointer swap and a reader is always snapshot-consistent on
    exactly one generation.  No CURRENT file → v1 → ``path`` itself."""
    try:
        with open(os.path.join(path, _CURRENT)) as fh:
            gen = fh.read().strip()
    except OSError:
        return path
    return os.path.join(path, gen)


def replay_floor(root: str) -> int:
    """Highest batch id folded into this generation by compaction.
    Batch dirs for ids ≤ floor were REMOVED by the fold; the commit
    functions treat such ids as already-committed (a replay of a
    compacted batch must stay a no-op — re-appending it would
    double-add counts).  -1 when the generation was never compacted."""
    try:
        with open(os.path.join(root, _FLOOR)) as fh:
            return int(fh.read().strip())
    except OSError:
        return -1


def _numbered(root: str, prefix: str) -> list[tuple[int, str]]:
    """``(n, full path)`` of every ``<prefix><n>`` entry of ``root``, in
    name order.  Foreign names sharing the prefix (an operator's
    ``batch-backup``) are tolerated and never returned — never folded,
    read or deleted; a missing root lists as empty."""
    try:
        names = sorted(os.listdir(root))
    except OSError:
        return []
    out = []
    for d in names:
        if d.startswith(prefix):
            try:
                out.append((int(d[len(prefix):]), os.path.join(root, d)))
            except ValueError:
                continue
    return out


class GenerationSupersededError(RuntimeError):
    """A commit published its batch into a generation that a concurrent
    compaction superseded between root resolution and publish — the
    batch landed in a directory the fold is about to delete.
    Retrying the commit is SAFE and the correct recovery: the retry
    re-resolves CURRENT; if the fold absorbed the batch its id is under
    the new floor (no-op), if the fold missed it the retry re-appends
    it into the live generation."""


def _check_generation_stable(path: str, root: str, batch_id: int) -> None:
    """Post-publish guard: a hook racing a ``compact_batches`` that does
    not share its lock has only a docstring contract.  This post-publish
    pointer read covers every publish that completes AFTER the fold's
    flip; its complement is the fold-side post-flip ``_rescue_unfolded``
    sweep, which moves every publish that landed BEFORE the flip into
    the live generation — together the silent-loss window is closed,
    not merely narrowed.

    SELF-RESCUE first: the batch is already durably published, so
    correctness must not hang on the caller's retry discipline (a
    one-shot caller — a cache-build hook, a manual script — that treats
    the exception as failure would leave the batch invisible until a
    later fold sweep happens to run).  The guard re-resolves CURRENT and
    either (a) finds the fold absorbed the batch (id ≤ the live floor:
    visible, done), (b) moves the published dir into the live generation
    itself (the _rescue_unfolded rename, done), or (c) finds a racer
    already placed that id in the live generation (done).  Only if the
    pointer moves AGAIN mid-rescue does the retry-safe error surface —
    the window is now two compactions inside one commit, not one."""
    live = collector_root(path)
    if live == root:
        return
    if batch_id <= replay_floor(live):
        return  # (a) the fold absorbed the batch: visible in live gen
    src = os.path.join(root, f"batch-{batch_id}")
    dst = os.path.join(live, f"batch-{batch_id}")
    if not _move_published_batch(src, dst):
        # (b)/(c) failed: the batch is committed-visible in NEITHER
        # generation — stranded; surface the retry-safe error
        raise GenerationSupersededError(
            f"batch-{batch_id} was published into {root!r}, CURRENT "
            f"moved to {live!r}, and the self-rescue could not place a "
            "COMMITTED copy in the live generation — retry the commit "
            "(replay protection makes the retry a safe no-op if a fold "
            "absorbs it meanwhile)"
        )
    live2 = collector_root(path)
    if live2 != live:
        raise GenerationSupersededError(
            f"batch-{batch_id} was rescued into {live!r} but a second "
            f"concurrent compaction moved CURRENT to {live2!r} "
            "mid-rescue — retry the commit (replay protection makes the "
            "retry a safe no-op if the fold already absorbed it)"
        )


def _move_published_batch(src: str, dst: str) -> bool:
    """Move a batch dir from a superseded generation into the live one.
    True when the batch is committed-visible at ``dst`` afterwards: this
    rename placed it, or a racer (or a retry) already committed the same
    id there — a visible ``batch-*`` dir is always a whole publish,
    because partial writes only ever exist under hidden ``.tmp`` names.
    False means the batch is committed-visible in neither place, so a
    caller about to delete ``src`` must be loud."""
    try:
        os.rename(src, dst)
        return True
    except OSError:
        return os.path.isdir(dst)


def commit_batch_dir(
    path: str, batch_id: int, write: Callable[[str], None]
) -> bool:
    """Commit one micro-batch directory under ``path`` as
    ``batch-<id>``: ``write(tmp_path)`` materializes the batch into a
    private hidden tmp dir, then one atomic rename publishes it.
    Returns True if this call committed, False if the batch was already
    committed (replay, or a racer won).  Raises on any genuine commit
    failure — a batch is either fully visible or loudly absent, never
    silently dropped."""
    root = collector_root(path)
    final = os.path.join(root, f"batch-{batch_id}")
    if os.path.isdir(final) or batch_id <= replay_floor(root):
        return False  # replayed batch: already committed (or compacted)
    tmp = os.path.join(root, f".batch-{batch_id}.tmp{os.getpid()}")
    try:
        write(tmp)
        try:
            os.rename(tmp, final)
        except OSError:
            if not os.path.isdir(final):
                raise  # not a race: surface the failure, keep the batch
            return False  # racer committed the identical batch
        _check_generation_stable(path, root, batch_id)
        return True
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _rescue_unfolded(old_root: str, new_root: str) -> None:
    """Move batch dirs that were committed into ``old_root`` AFTER a
    fold's directory listing (their id is above the new generation's
    replay floor, so the fold cannot have absorbed them) into the live
    generation — the fold-side half of the commit-vs-compact story: the
    commit functions' post-publish pointer check catches every publish
    that lands AFTER the flip, and this sweep (which runs after the
    flip) catches every publish that landed BEFORE it, so between the
    two no committed batch can ride a superseded generation to its
    deletion.  A rename that loses to an id already recommitted into
    the live generation is skipped (the retry's copy wins; the stale
    one dies with its generation)."""
    floor = replay_floor(new_root)
    for bid, src in _numbered(old_root, "batch-"):
        if bid <= floor:
            continue  # folded (or floor-absorbed): dies with its gen
        if not _move_published_batch(
            src, os.path.join(new_root, os.path.basename(src))
        ):
            # a COMMITTED batch could not be placed in the live gen —
            # every caller of this sweep is about to delete old_root,
            # so silence here would be permanent batch loss.  Raise; the
            # next fold retries, with old_root intact.
            raise RuntimeError(
                f"committed batch {src!r} (id {bid} above the live "
                f"floor {floor}) could not be rescued into "
                f"{new_root!r}; refusing to let it be deleted with its "
                "generation — inspect, then re-run maintenance"
            )


def _reclaim_superseded(path: str, live: str) -> None:
    """Delete every generation of ``path`` except ``live`` — what a fold
    supersedes, and what a fold killed part-way leaves behind:

    - a ``gen-<n>`` NEWER than the live one (a kill between the
      generation rename and the ``CURRENT`` flip) was never flipped to
      and only copies batches that are still live: deleted outright;
    - an OLDER ``gen-<n>``, and the v1 root's numeric ``batch-*`` dirs
      once the dataset is generational (a kill after the flip), may
      hold a batch committed during that fold, above the live floor:
      ``_rescue_unfolded`` moves it into ``live`` first, and raises —
      leaving it on disk — when it cannot be placed.

    A read that resolved a superseded generation before the flip may
    still be scanning it and hit FileNotFound — one of the remaining
    risks ``compact_batches``' single-writer contract lists."""
    live_n = -1 if live == path else int(os.path.basename(live)[4:])
    for n, gen in _numbered(path, "gen-"):
        if n > live_n:
            shutil.rmtree(gen, ignore_errors=True)
        elif n < live_n:
            _rescue_unfolded(gen, live)
            shutil.rmtree(gen, ignore_errors=True)
    if live != path:
        _rescue_unfolded(path, live)
        for _, d in _numbered(path, "batch-"):
            shutil.rmtree(d, ignore_errors=True)


def compact_batches(
    spark,
    path: str,
    parts: tuple[str, ...] = ("",),
    target_files: int = 1,
    transform=None,
) -> int:
    """Fold every committed ``batch-<id>`` of a collector dataset into
    ONE batch directory of ``target_files`` parquet files — the
    small-file maintenance job every long-running collector needs: a
    micro-batch cadence of seconds accumulates ~10⁵ directories/week,
    and per-file open cost eventually dominates every read.

    Content-neutral by design: the collector families fold at READ
    time (additive counts for histograms and postings), so compaction
    is purely a row-preserving rewrite — the union of all batch rows
    lands in a single new batch dir, and read-side results are
    bit-identical (test-pinned).

    Atomicity and replay:
    - The new generation is built complete in a hidden tmp dir, renamed
      into place, and then the ``CURRENT`` pointer file is REPLACED by
      atomic rename — a reader resolves either the old generation or
      the new one, never a mix (the double-count a same-directory
      rewrite would risk).
    - The new generation records ``COMPACTED_THROUGH = <max folded
      id>``; the commit functions treat ids ≤ that floor as already
      committed, so an at-least-once replay of a pre-compaction batch
      stays a no-op even though its directory is gone.
    - A fold killed part-way is recovered by the next one, which first
      reclaims the orphaned or superseded generations the kill left on
      disk (``_reclaim_superseded``).

    Single-writer contract: run this from the collector's own driver
    BETWEEN micro-batches.  A batch committed to the OLD generation
    during a fold is not lost: the post-flip ``_rescue_unfolded`` sweep
    and ``commit_batch_dir``'s self-rescue place it in the live
    generation.  What a racing appender or reader still risks:
    - readers never see a torn RESOLUTION (old or new generation,
      whole), but the old generation's files are deleted right after
      the flip, so a read that resolved just before it can hit
      FileNotFound mid-scan;
    - a commit that sees CURRENT move twice while it rescues its batch
      (two folds inside one commit) raises
      ``GenerationSupersededError``; retrying it is safe.

    ``parts`` names the sub-relations inside each batch dir ("" for
    flat datasets like histograms; ("postings", "doclens") for the
    inverted index).  Returns the number of batch dirs folded (0 =
    nothing to do).

    ``transform`` (optional, ``fn(part_name, df) -> df``) maps each
    part's unioned rows before the rewrite — the hook the MinHash gate
    uses to drop tombstoned rows and materialize its global collapse at
    fold time (``minhash_fold``).  Two contract points: the transform
    must be deterministic and must never FABRICATE rows (replay floors
    still suppress re-commits of FOLDED ids, so an invented row has no
    batch to belong to — dropping rows and rewriting/adding COLUMNS are
    both fine), and correctness must NEVER depend on it having run: a
    batch rescued by ``_rescue_unfolded`` after the pointer flip rides
    into the new generation UNTRANSFORMED, so read paths keep applying
    the same filter read-time (for tombstones: the anti-join, idempotent
    over already-removed rows; for fold-added columns: treat absent/NULL
    as not-yet-folded)."""
    root = collector_root(path)
    _reclaim_superseded(path, root)
    batches = _numbered(root, "batch-")
    data_dirs = [d for _, d in batches]
    floor = max(max((i for i, _ in batches), default=-1), replay_floor(root))
    # a plain fold of one batch dir is a no-op rewrite; a TRANSFORMING
    # fold of one batch dir is real work (tombstones must still apply)
    if len(data_dirs) < (1 if transform is not None else 2):
        return 0

    gen_n = 0 if root == path else int(os.path.basename(root)[4:]) + 1
    new_root = os.path.join(path, f"gen-{gen_n}")
    tmp = os.path.join(path, f".gen-{gen_n}.tmp{os.getpid()}")
    try:
        batch_dir = os.path.join(tmp, "batch-0")
        for part in parts:
            srcs = [os.path.join(d, part) if part else d for d in data_dirs]
            dst = os.path.join(batch_dir, part) if part else batch_dir
            # mergeSchema: folding a TRANSFORMED generation (which may
            # carry fold-added columns) together with raw later batches
            # mixes schemas — without the merge Spark infers from one
            # arbitrary file and silently drops the other shape's
            # columns; on uniform-schema families the option is an
            # identity
            df = spark.read.option("mergeSchema", "true").parquet(*srcs)
            if transform is not None:
                df = transform(part, df)
            (
                df.coalesce(target_files)
                .write.mode("overwrite")
                .parquet(dst)
            )
        # never BELOW the previous generation's floor: the compacted
        # batch-0 artifact carries id 0, which must not reopen replay
        # protection for ids the prior fold already absorbed
        with open(os.path.join(tmp, _FLOOR), "w") as fh:
            fh.write(f"{floor}\n")
        os.rename(tmp, new_root)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    # flip the pointer: write-new + atomic replace
    ptr_tmp = os.path.join(path, f".{_CURRENT}.tmp{os.getpid()}")
    with open(ptr_tmp, "w") as fh:
        fh.write(f"gen-{gen_n}\n")
    os.rename(ptr_tmp, os.path.join(path, _CURRENT))
    # rescue any batch committed into the OLD generation between this
    # fold's directory listing and the flip (the raw-hook race the
    # single-writer contract only covers by convention), then reclaim
    # it: running the sweep AFTER the flip makes coverage complete —
    # later publishes fail the committers' own post-publish pointer
    # check and retry into the new generation instead
    _reclaim_superseded(path, new_root)
    return len(data_dirs)


def batch_data_paths(path: str, part: str = "") -> list[str]:
    """Read-side paths of every COMMITTED batch of a collector dataset,
    resolved through the generation pointer — the single read point
    shared by all collector families.  ``part`` selects a sub-relation
    inside each batch dir (the inverted index's postings/doclens).
    Raises with an actionable message when nothing has been committed
    yet.

    An explicit numeric-id listing, not a ``batch-*`` glob: the glob
    would also match foreign ``batch-*`` names, feeding their
    non-parquet contents straight into the read.  Compaction bounds the
    dir count, so the path list stays small; Spark's hidden-path rule
    never sees the dot-prefixed tmp dirs either way.  A numeric batch
    dir missing a requested part fails the read loudly
    (PATH_NOT_FOUND): every part is written inside the batch dir before
    its publish, so a missing part is a torn write or a writer bug, and
    silence would mean serving partial data."""
    batches = [d for _, d in _numbered(collector_root(path), "batch-")]
    if not batches:
        raise ValueError(f"no committed batches under {path!r}")
    return [os.path.join(b, part) if part else b for b in batches]


def tombstones_collector(path: str, id_col: str = "doc_id"):
    """foreachBatch hook for a DELETION (tombstone) dataset — the
    takedown/opt-out path every long-lived persisted index needs: a
    100 TB curation corpus is not append-only in practice (GDPR
    erasure, licensing takedowns, opt-outs), but the collector-family
    indexes are, so deletions land as their OWN tiny collector dataset
    of doomed ids under the SAME atomic commit protocol (replay of a
    committed tombstone batch writes nothing; folds work unchanged
    because tombstones are a plain flat relation).

    Consumption is two-tier, each independently correct:
    - READ-TIME: index readers anti-join the tombstone ids
      (``tombstone_ids``) — deletions take effect at the next query,
      O(|deletes|) extra input, no index rewrite;
    - FOLD-TIME: a ``compact_batches`` transform (``minhash_fold``'s
      ``tombstone_path``) physically drops tombstoned rows during
      compaction, so the index's disk/scan cost stops paying for
      deleted documents.  The read-time anti-join stays on
      (idempotent over already-removed rows) — correctness never
      depends on a fold having run (a rescued batch rides into the new
      generation untransformed; see ``compact_batches``).

    Tombstone ids are never reclaimed: the corpus id contract is
    append-only (an id is never reused), so a tombstone can never
    match future rows, and keeping it costs 8-16 bytes.  Duplicate ids
    across tombstone batches are harmless (anti-join semantics).

    Deletion taxonomy across the persisted families — each store kind
    gets the mechanism its algebra allows:
    - per-ROW doc-keyed indexes (postings, MinHash bands+sets, IVF and
      IVF-PQ lists): THIS machinery — tombstone anti-join, plus a
      fold-time physical drop where the index is a collector dataset;
    - ADDITIVE aggregates (LM trigram counts, histograms): retraction
      batches — the same collector computation with negated counts,
      netting out at finalize (``lm_counts_collector(retract=True)``;
      negative nets raise);
    - IRREVERSIBLE sketches (bloom filters, HLL, CMS): no per-item
      deletion exists by construction — the deployment answer is
      rebuild-from-survivors at maintenance cadence (or a counting
      variant, which trades 8-16× space; not implemented)."""

    def write_batch(ids_df, batch_id: int) -> None:
        def write(tmp: str) -> None:
            # stored under the FIXED name "id" so every reader renames
            # to its own key deterministically, whatever the writer's
            # column was called
            ids_df.select(id_col).withColumnRenamed(id_col, "id").write.parquet(
                tmp
            )

        commit_batch_dir(path, batch_id, write)

    return write_batch


def tombstone_ids(spark, path: str):
    """The accumulated tombstone relation (one ``id`` column, distinct
    doomed ids), or ``None`` when nothing has been tombstoned yet — the
    bootstrap convention index readers branch on (no anti-join at all
    on the common no-deletes path, so the probe plan is unchanged until
    the first takedown lands).  A typo'd *path* also reads as bootstrap
    — callers that require an existing dataset should check the path
    themselves."""
    try:
        paths = batch_data_paths(path)
    except ValueError:
        return None  # nothing committed yet: bootstrap
    from paas_auditor_spark.sources.tables import read_parquet_cached

    return read_parquet_cached(spark, *paths).distinct()


def anti_join_tombstones(df, doomed, id_col: str):
    """Drop tombstoned ids from ``df``: the ONE rename + left_anti body
    shared by every read-time deletion site (BM25, IVF, IVF-PQ, the
    minhash gates, maintenance).  ``doomed`` is ``tombstone_ids``'s
    result; ``None`` (nothing tombstoned) returns ``df`` unchanged, so
    the no-deletes plan never grows the join."""
    if doomed is None:
        return df
    return df.join(
        doomed.withColumnRenamed("id", id_col), id_col, "left_anti"
    )
