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
  because silently dropping a batch is data loss — for a Bloom gate it
  is silent false negatives, for a count sketch it is lost mass;
- a replayed batch (at-least-once delivery) finds its committed
  directory and writes nothing, which is the CORRECTNESS mechanism for
  additive relations (counts would double-add; bits merely re-OR).

Filesystem contract: ``commit_batch_dir`` needs a filesystem the DRIVER
can atomically os.rename on (local disk, NFS, HDFS FileContext) — which
is where these collectors' parquet writes land in local/test
deployments.  ``commit_batch_dir_marker`` is the OBJECT-STORE variant
(S3/GCS, where "rename" is a non-atomic copy+delete): data lands under
a uniquely-named attempt prefix inside the batch directory, and a
single exclusive-create of a ``_COMMITTED`` marker naming the winning
attempt publishes it — the local exclusive-create maps 1:1 to a
conditional PUT (``If-None-Match: *``), the primitive S3 and GCS DO
guarantee atomic.  Readers (``committed_batch_dirs``) consume only
marker-named attempt directories, so torn attempts (crash before
marker) and racing losers are invisible garbage, never torn reads.
The whole-batches-or-nothing contract is identical across both
variants; only the publish primitive changes.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Callable

__all__ = [
    "GenerationSupersededError",
    "anti_join_tombstones",
    "batch_data_paths",
    "collector_root",
    "commit_batch_dir",
    "commit_batch_dir_marker",
    "commit_fn",
    "committed_batch_dirs",
    "compact_batches",
    "replay_floor",
    "tombstone_ids",
    "tombstones_collector",
]

_MARKER = "_COMMITTED"
_CURRENT = "CURRENT"
# underscore-prefixed like _SUCCESS/_COMMITTED: Spark's hidden-path rule
# skips it, so a recursiveFileLookup parquet read of a generation dir
# never trips over the metadata file
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


class GenerationSupersededError(RuntimeError):
    """A commit published its batch into a generation that a concurrent
    compaction superseded between root resolution and publish — the
    batch landed in a directory the fold is about to delete.
    Retrying the commit is SAFE and the correct recovery: the retry
    re-resolves CURRENT; if the fold absorbed the batch its id is under
    the new floor (no-op), if the fold missed it the retry re-appends
    it into the live generation."""


def _check_generation_stable(path: str, root: str, batch_id: int) -> None:
    """Post-publish guard (ADVICE r7): a hook racing a ``compact_batches``
    that does not share its lock has only a docstring contract.  This
    post-publish pointer read covers every publish that completes AFTER
    the fold's flip; its complement is the fold-side post-flip
    ``_rescue_unfolded`` sweep, which moves every publish that landed
    BEFORE the flip into the live generation — together the silent-loss
    window is closed, not merely narrowed (r8 review).

    SELF-RESCUE first (ADVICE r8): the batch is already durably
    published, so correctness must not hang on the caller's retry
    discipline (a one-shot caller — a cache-build hook, a manual script
    — that treats the exception as failure would leave the batch
    invisible until a later fold sweep happens to run).  The
    guard re-resolves CURRENT and either (a) finds the fold absorbed the
    batch (id ≤ the live floor: visible, done), (b) moves the published
    dir into the live generation itself (the _rescue_unfolded rename,
    done), or (c) finds a racer already placed that id in the live
    generation (done).  Only if the pointer moves AGAIN mid-rescue does
    the retry-safe error surface — the window is now two compactions
    inside one commit, not one."""
    live = collector_root(path)
    if live == root:
        return
    if batch_id <= replay_floor(live):
        return  # (a) the fold absorbed the batch: visible in live gen
    src = os.path.join(root, f"batch-{batch_id}")
    dst = os.path.join(live, f"batch-{batch_id}")
    if _move_published_batch(src, dst) == "absent":
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


def _marker_committed(batch_dir: str) -> bool:
    """True iff ``batch_dir`` holds a COMMITTED marker-protocol publish
    (non-empty ``_COMMITTED`` — committed_batch_dirs' visibility rule)."""
    try:
        return os.path.getsize(os.path.join(batch_dir, _MARKER)) > 0
    except OSError:
        return False


def _move_published_batch(src: str, dst: str) -> str:
    """Move a batch dir from a superseded generation into the live one,
    correct under BOTH publish protocols.  Returns ``"moved"`` (we
    placed it), ``"present"`` (already committed-visible at dst),
    ``"absent"`` (a COMMITTED src could not be placed — committed-visible
    in neither place; callers about to delete src must be loud),
    ``"skipped"`` (src is torn scaffolding, nothing committed to move),
    or ``"wedged"`` (src carries an empty — externally corrupted —
    marker and could not be surfaced into the live generation).

    The hazard this exists to not mis-call (r9 review, reproduced):
    under the MARKER protocol a bare ``isdir(dst)`` does NOT mean
    committed — ``commit_batch_dir_marker`` makedirs the batch dir
    before any data or marker exists, so an in-flight (or dead) racer's
    scaffolding at dst must not be read as "the batch is safe" while the
    only COMMITTED copy sits in src awaiting deletion.  When dst exists
    but is uncommitted and src IS a committed marker publish, the
    committed attempt is migrated with the protocol's own primitives:
    rename the attempt dir in, then hard-link the (already non-empty)
    marker — EEXIST meaning a racer published the identical batch first.
    Under the RENAME protocol a visible dst dir IS a committed whole-dir
    publish (partial writes only ever exist under hidden ``.tmp``
    names), so the simple existence check stays valid there."""
    src_marker = os.path.join(src, _MARKER)
    marker_protocol = os.path.exists(src_marker)
    if not marker_protocol:
        try:
            entries = os.listdir(src)
        except OSError:
            return "skipped"
        if not entries or all(e.startswith("attempt-") for e in entries):
            # marker-protocol scaffolding with NO marker yet (an
            # in-flight or dead writer's attempt dirs, or a bare
            # makedirs): nothing is committed here — bare-renaming it
            # as if it were a rename-protocol publish would migrate a
            # half-written attempt into the live generation and let the
            # writer's later marker publish commit a partial batch
            # (r11 review).  Leave it: the writer's own post-publish
            # self-rescue places it if the marker ever lands.
            return "skipped"
    if marker_protocol and not _marker_committed(src):
        # an EMPTY marker is external corruption (the protocol links a
        # fully written file) — the codebase's posture on it is LOUD
        # (commit and compact both raise).  Try the bare move so the
        # wedge surfaces in the live generation where those checks run;
        # if the move is blocked, report "wedged" so the caller can
        # refuse to delete the dir underneath it (r9 fix-review).
        try:
            os.path.getsize(src_marker)  # distinguishes wedged vs race
        except OSError:
            return "skipped"  # marker vanished: src is torn scaffolding
        try:
            os.rename(src, dst)
            return "moved"
        except OSError:
            return "wedged"
    try:
        os.rename(src, dst)
        return "moved"
    except OSError:
        pass
    if not marker_protocol:
        return "present" if os.path.isdir(dst) else "absent"
    dst_marker = os.path.join(dst, _MARKER)
    if _marker_committed(dst):
        return "present"  # racer/recommit already published the id
    try:
        attempt = open(src_marker).read().strip()
    except OSError:
        return "absent"
    try:
        os.rename(os.path.join(src, attempt), os.path.join(dst, attempt))
    except OSError:
        if not os.path.isdir(os.path.join(dst, attempt)):
            return "present" if _marker_committed(dst) else "absent"
    try:
        os.link(src_marker, dst_marker)
    except FileExistsError:
        pass  # racer published the identical batch: ours is redundant
    except OSError:
        return "present" if _marker_committed(dst) else "absent"
    return "moved" if _marker_committed(dst) else "absent"


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


def commit_batch_dir_marker(
    path: str, batch_id: int, write: Callable[[str], None]
) -> bool:
    """``commit_batch_dir`` for filesystems WITHOUT atomic rename
    (object stores).  ``write(data_path)`` materializes the batch into
    ``path/batch-<id>/attempt-<unique>/``; publishing is ONE exclusive
    create of ``batch-<id>/_COMMITTED`` whose content names the winning
    attempt (locally ``O_CREAT|O_EXCL``; on S3/GCS the same call is a
    conditional PUT of the marker object).  Same return/raise contract
    as commit_batch_dir: True = this call committed; False = replay or
    racer won (our attempt is deleted best-effort — on a real object
    store a lifecycle rule reaps unmarked attempt prefixes); any
    genuine write/publish failure raises, and the failed attempt stays
    invisible because no marker names it.

    The local publish is an atomic HARD LINK of a fully written private
    file onto the marker name (``os.link`` fails EEXIST if a racer
    published first) — the marker carries its content from the instant
    it exists, exactly like a conditional PUT, so the
    created-but-empty wedge an O_EXCL-create-then-write sequence could
    leave behind (crash between the two syscalls → every replay sees
    "marker exists" and skips, every reader sees "empty" and skips:
    permanent silent loss) cannot occur.  A marker that IS empty can
    therefore only be external corruption, and the commit path raises
    loudly on it instead of treating it as committed."""
    root = collector_root(path)
    final = os.path.join(root, f"batch-{batch_id}")
    marker = os.path.join(final, _MARKER)
    if batch_id <= replay_floor(root):
        return False  # replayed batch: folded by compaction
    if os.path.exists(marker):
        if os.path.getsize(marker) == 0:
            raise ValueError(
                f"wedged empty commit marker {marker!r}: not produced by "
                "this protocol (publish is an atomic link of a non-empty "
                "file) — inspect and remove it before recommitting"
            )
        return False  # replayed batch: already committed
    attempt = f"attempt-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    data = os.path.join(final, attempt)
    os.makedirs(final, exist_ok=True)
    try:
        write(data)
        ptr = os.path.join(final, f".{attempt}.marker")
        with open(ptr, "w") as fh:
            fh.write(attempt + "\n")
        try:
            os.link(ptr, marker)
        except FileExistsError:
            shutil.rmtree(data, ignore_errors=True)
            return False  # racer committed the identical batch
        finally:
            os.unlink(ptr)
        _check_generation_stable(path, root, batch_id)
        return True
    except BaseException:
        # clean up ONLY while unpublished: once the marker names this
        # attempt the data is the committed copy — deleting it here
        # (e.g. when _check_generation_stable raises the retry-safe
        # superseded error AFTER the link) would wedge a non-empty
        # marker over a missing attempt, and the retry would see
        # "already committed" and suppress the replay: permanent loss
        # (r11 review).
        try:
            published = (
                os.path.getsize(marker) > 0
                and open(marker).read().strip() == attempt
            )
        except OSError:
            published = False
        if not published:
            shutil.rmtree(data, ignore_errors=True)
        raise


def committed_batch_dirs(path: str) -> list[str]:
    """Data directories of every PUBLISHED batch under ``path`` —
    the read half of ``commit_batch_dir_marker``: only attempts named
    by a non-empty ``_COMMITTED`` marker are visible; unmarked attempts
    (torn writes, racing losers) and empty markers (the local
    creation/content gap) are skipped.  Resolves the generation pointer
    first, so a compacted dataset reads its live generation only.
    Sorted by batch id for deterministic fold order."""
    root = collector_root(path)
    if not os.path.isdir(root):
        return []
    out: list[tuple[int, str]] = []
    for d in os.listdir(root):
        if not d.startswith("batch-"):
            continue
        try:
            bid = int(d.split("-", 1)[1])
        except ValueError:
            continue  # foreign batch-* name: not ours
        try:
            attempt = (
                open(os.path.join(root, d, _MARKER)).read().strip()
            )
        except OSError:
            continue  # no marker: batch not committed
        if attempt:
            out.append((bid, os.path.join(root, d, attempt)))
    return [p for _, p in sorted(out)]


def _rescue_unfolded(old_root: str, new_root: str) -> int:
    """Move batch dirs that were committed into ``old_root`` AFTER a
    fold's directory listing (their id is above the new generation's
    replay floor, so the fold cannot have absorbed them) into the live
    generation — the fold-side half of the commit-vs-compact story (r8
    review): the commit functions' post-publish pointer check catches
    every publish that lands AFTER the flip, and this sweep (which runs
    after the flip) catches every publish that landed BEFORE it, so
    between the two no committed batch can ride a superseded generation
    to its deletion.  A rename that loses to an id already recommitted
    into the live generation is skipped (the retry's copy wins; the
    stale one dies with its generation)."""
    if not os.path.isdir(old_root) or os.path.realpath(
        old_root
    ) == os.path.realpath(new_root):
        return 0
    floor = replay_floor(new_root)
    moved = 0
    for d in os.listdir(old_root):
        if not d.startswith("batch-"):
            continue
        try:
            bid = int(d.split("-", 1)[1])
        except ValueError:
            continue
        if bid <= floor:
            continue  # folded (or floor-absorbed): dies with its gen
        # protocol-aware move (r9 review): a bare rename-else-skip would
        # read an in-flight racer's uncommitted marker-protocol dir in
        # the live gen as "retry's copy wins" and let the only COMMITTED
        # copy die with its generation
        src = os.path.join(old_root, d)
        outcome = _move_published_batch(src, os.path.join(new_root, d))
        if outcome == "moved":
            moved += 1
        elif outcome == "absent":
            # a COMMITTED batch could not be placed in the live gen (r9
            # fix-review: e.g. the marker link failed with ENOSPC after
            # the attempt dir moved) — every caller of this sweep is
            # about to delete old_root, so silence here would be
            # permanent batch loss.  Raise; the caller's next fold
            # retries, with old_root intact.
            raise RuntimeError(
                f"committed batch {src!r} (id {bid} above the live "
                f"floor {floor}) could not be rescued into "
                f"{new_root!r}; refusing to let it be deleted with its "
                "generation — inspect, then re-run maintenance"
            )
        elif outcome == "wedged":
            # empty marker = external corruption: the same loud posture
            # commit and compact take, here before the dir under it is
            # deleted with its generation
            raise ValueError(
                f"wedged empty commit marker under {src!r}: inspect and "
                "remove it before maintenance can reclaim this generation"
            )
    return moved


def compact_batches(
    spark,
    path: str,
    parts: tuple[str, ...] = ("",),
    protocol: str = "rename",
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

    Single-writer contract: run this from the collector's own driver
    BETWEEN micro-batches — it must not race the appender, because a
    batch committed to the OLD generation after the fold's file listing
    would be silently dropped by the pointer flip.  Readers never see a
    torn RESOLUTION (old or new generation, whole), but the old
    generation's files are deleted immediately after the flip — a read
    that resolved just before the flip can hit FileNotFound mid-scan.

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
    if protocol == "marker":
        # fold (and floor!) only batches with a COMMITTED (non-empty)
        # marker — committed_batch_dirs' rule.  Counting a merely
        # EXISTING marker into the floor would absorb a wedged batch's
        # id while dropping its data: unrecoverable silent loss.
        data_dirs = committed_batch_dirs(path)
        ids = [
            int(os.path.basename(os.path.dirname(d)).split("-", 1)[1])
            for d in data_dirs
        ]
        # the fold's replay floor will be max(committed id, old floor):
        # any batch dir at or below it that is NOT in the committed set
        # would have its retry suppressed while its data dir vanishes
        # with the old generation — silent loss.  Two shapes of that
        # hazard (a wedged empty marker, a torn unmarked attempt), both
        # refused loudly below (repair, then compact):
        floor = max(max(ids, default=-1), replay_floor(root))
        if os.path.isdir(root):
            for d in os.listdir(root):
                if not d.startswith("batch-"):
                    continue
                mk = os.path.join(root, d, _MARKER)
                if os.path.exists(mk) and os.path.getsize(mk) == 0:
                    # wedged empty marker: externally corrupted publish
                    raise ValueError(
                        f"wedged empty commit marker {mk!r}: refusing to "
                        "compact past it — inspect and remove it first"
                    )
                try:
                    bid = int(d.split("-", 1)[1])
                except ValueError:
                    # foreign batch-* name (not ours — the
                    # committed_batch_dirs tolerance rule): never folded,
                    # never floored; it rides the old generation
                    continue
                if not os.path.exists(mk) and bid <= floor:
                    # torn attempt with NO marker below the floor: its id
                    # is ≤ the floor this fold would record, so a retry
                    # after the fold would be silently suppressed while
                    # the unmarked data dir is deleted with the old
                    # generation.  Unreachable while Structured Streaming
                    # commits batch ids strictly in sequence — this
                    # asserts that invariant at fold time (ADVICE r7)
                    # instead of assuming it.
                    raise ValueError(
                        f"unmarked batch dir {os.path.join(root, d)!r} at or "
                        f"below the fold's replay floor ({floor}): its retry "
                        "would be suppressed after compaction — recommit or "
                        "remove it before compacting"
                    )
    else:
        ids, data_dirs = [], []
        if os.path.isdir(root):
            for d in sorted(os.listdir(root)):
                if not d.startswith("batch-"):
                    continue
                try:
                    ids.append(int(d.split("-", 1)[1]))
                except ValueError:
                    continue  # foreign batch-* name: tolerated, not folded
                data_dirs.append(os.path.join(root, d))
        floor = max(max(ids, default=-1), replay_floor(root))
    # a plain fold of one batch dir is a no-op rewrite; a TRANSFORMING
    # fold of one batch dir is real work (tombstones must still apply)
    if len(data_dirs) < (1 if transform is not None else 2):
        return 0

    gen_n = 0
    if root != path:
        gen_n = int(os.path.basename(root).split("-", 1)[1]) + 1
    # a crash between a prior run's generation rename and its pointer
    # flip leaves an orphaned gen-<n> dir: skip over it instead of
    # failing ENOTEMPTY forever (the orphan is unreferenced garbage)
    while os.path.exists(os.path.join(path, f"gen-{gen_n}")):
        gen_n += 1
    new_gen = f"gen-{gen_n}"
    tmp = os.path.join(path, f".{new_gen}.tmp{os.getpid()}")
    try:
        if protocol == "marker":
            batch_dir = os.path.join(tmp, "batch-0", "attempt-compact")
        else:
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
        if protocol == "marker":
            with open(os.path.join(tmp, "batch-0", _MARKER), "w") as fh:
                fh.write("attempt-compact\n")
        # never BELOW the previous generation's floor: the compacted
        # batch-0 artifact carries id 0, which must not reopen replay
        # protection for ids the prior fold already absorbed (the one
        # floor value, computed once per protocol branch above)
        with open(os.path.join(tmp, _FLOOR), "w") as fh:
            fh.write(f"{floor}\n")
        os.rename(tmp, os.path.join(path, new_gen))
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    # flip the pointer: write-new + atomic replace
    ptr_tmp = os.path.join(path, f".{_CURRENT}.tmp{os.getpid()}")
    with open(ptr_tmp, "w") as fh:
        fh.write(new_gen + "\n")
    os.rename(ptr_tmp, os.path.join(path, _CURRENT))
    # rescue any batch committed into the OLD generation between this
    # fold's directory listing and the flip (the raw-hook race the
    # single-writer contract only covers by convention): running the
    # sweep AFTER the flip makes coverage complete — later publishes
    # fail the committers' own post-publish pointer check and retry
    # into the new generation instead
    _rescue_unfolded(root, os.path.join(path, new_gen))
    # reclaim the previous generation: no NEW reader can resolve it, but
    # a read that resolved before the flip may still be scanning — see
    # the docstring's single-writer contract
    if root == path:
        # v1 layout: delete exactly the batch dirs that were folded
        # (a wedged marker batch was NOT folded and must stay on disk)
        folded = (
            data_dirs
            if protocol != "marker"
            else [os.path.dirname(d) for d in data_dirs]
        )
        for d in folded:
            shutil.rmtree(d, ignore_errors=True)
    else:
        shutil.rmtree(root, ignore_errors=True)
    return len(data_dirs)


def commit_fn(protocol: str) -> Callable[[str, int, Callable[[str], None]], bool]:
    """The commit primitive for ``protocol`` — the single dispatch point
    all collector families share (histograms, postings, MinHash bands),
    so the rename/marker semantics live in this module only."""
    try:
        return {
            "rename": commit_batch_dir,
            "marker": commit_batch_dir_marker,
        }[protocol]
    except KeyError:
        raise ValueError(
            f"unknown commit protocol {protocol!r}: use 'rename' "
            "(atomic-rename filesystems) or 'marker' (object stores)"
        ) from None


def batch_data_paths(path: str, protocol: str, part: str = "") -> list[str]:
    """Read-side paths of every COMMITTED batch of a collector dataset,
    resolved per protocol and through the generation pointer — the
    single read-dispatch point shared by all collector families.
    ``part`` selects a sub-relation inside each batch dir (the inverted
    index's postings/doclens).  Raises with an actionable message when
    nothing has been committed yet."""
    if protocol == "marker":
        dirs = committed_batch_dirs(path)
        if not dirs:
            raise ValueError(f"no committed batches under {path!r}")
        return [os.path.join(d, part) if part else d for d in dirs]
    if protocol != "rename":
        commit_fn(protocol)  # raise the canonical unknown-protocol error
    root = collector_root(path)
    # explicit numeric-id listing, not a batch-* glob (r9 fix-review):
    # the glob also matched foreign batch-* names the fold now
    # tolerates, feeding their non-parquet contents straight into the
    # read.  Compaction bounds the dir count, so the path list stays
    # small; Spark's hidden-path rule never saw the dot-prefixed tmp
    # dirs either way.  Deliberate contract change that rides along: a
    # NUMERIC batch dir missing a requested part now fails the read
    # loudly (PATH_NOT_FOUND) where the glob silently skipped it — under
    # the whole-dir/marker commit protocols every part is written inside
    # the batch dir before publish, so a missing part is a torn write or
    # a writer bug, and silence would mean serving partial data.
    batches = []
    if os.path.isdir(root):
        for d in sorted(os.listdir(root)):
            if not d.startswith("batch-"):
                continue
            try:
                int(d.split("-", 1)[1])
            except ValueError:
                continue  # foreign name: tolerated, never read
            full = os.path.join(root, d)
            if os.path.exists(os.path.join(full, _MARKER)):
                # a batch dir carrying a _COMMITTED marker was published
                # by the MARKER protocol: its parquet lives one level
                # deeper under the named attempt dir, so a rename-
                # protocol read here would scan attempt scaffolding —
                # torn and losing attempts included (r11 review; the
                # reverse mismatch already raised in batch listing)
                raise ValueError(
                    f"dataset at {path!r} has marker-protocol batches "
                    "but was read with protocol='rename' — pass "
                    "protocol='marker'"
                )
            batches.append(full)
    if not batches:
        raise ValueError(f"no committed batches under {path!r}")
    return [os.path.join(b, part) if part else b for b in batches]


def tombstones_collector(path: str, id_col: str = "doc_id",
                         protocol: str = "rename"):
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
    - per-ROW doc-keyed indexes (postings, MinHash bands+sets, IVF
      lists/shards): THIS machinery — tombstone anti-join + fold-time
      physical drop;
    - ADDITIVE aggregates (LM trigram counts, histograms): retraction
      batches — the same collector computation with negated counts,
      netting out at finalize (``lm_counts_collector(retract=True)``;
      negative nets raise);
    - IRREVERSIBLE sketches (bloom filters, HLL, CMS): no per-item
      deletion exists by construction — the deployment answer is
      rebuild-from-survivors at maintenance cadence (or a counting
      variant, which trades 8-16× space; not implemented)."""
    commit = commit_fn(protocol)

    def write_batch(ids_df, batch_id: int) -> None:
        def write(tmp: str) -> None:
            # stored under the FIXED name "id" so every reader renames
            # to its own key deterministically, whatever the writer's
            # column was called
            ids_df.select(id_col).withColumnRenamed(id_col, "id").write.parquet(
                tmp
            )

        commit(path, batch_id, write)

    return write_batch


def tombstone_ids(spark, path: str, protocol: str = "rename"):
    """The accumulated tombstone relation (one ``id`` column, distinct
    doomed ids), or ``None`` when nothing has been tombstoned yet — the
    bootstrap convention index readers branch on (no anti-join at all
    on the common no-deletes path, so the probe plan is unchanged until
    the first takedown lands).

    A dataset that HAS committed batches — but under the other commit
    protocol — raises instead of returning None (r11 review): the
    single ``protocol`` argument is commonly reused for both the index
    and its tombstones, and a mismatch would otherwise be
    indistinguishable from 'nothing deleted yet', silently serving
    GDPR-deleted rows forever.  (A typo'd *path* still reads as
    bootstrap — callers that require an existing dataset should check
    the path themselves.)"""
    try:
        paths = batch_data_paths(path, protocol)
    except ValueError:
        other = "marker" if protocol == "rename" else "rename"
        try:
            batch_data_paths(path, other)
        except ValueError:
            return None  # genuinely nothing committed: bootstrap
        raise ValueError(
            f"tombstone dataset at {path!r} has batches committed under "
            f"the {other!r} protocol but was read with {protocol!r} — "
            "deletes would be silently ignored; pass the dataset's "
            "protocol"
        )
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
