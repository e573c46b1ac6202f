"""Commit protocols for streaming collectors (operators/atomic.py).

The rename variant's contract is pinned in test_bloom.py; this file pins
the OBJECT-STORE variant (commit_batch_dir_marker): same
whole-batches-or-nothing semantics on a filesystem with NO atomic rename
— replay skip, racer loss, torn-attempt invisibility, and end-to-end
equality with the rename protocol through the bloom collector.
"""

from __future__ import annotations

import os

import pytest

from paas_auditor_spark.operators.atomic import (
    commit_batch_dir,
    commit_batch_dir_marker,
    committed_batch_dirs,
)


def _write_file(data_dir, name="part-0", content="x"):
    os.makedirs(data_dir)
    with open(os.path.join(data_dir, name), "w") as fh:
        fh.write(content)


def test_marker_commit_replay_and_visibility(tmp_path):
    path = str(tmp_path)
    assert commit_batch_dir_marker(path, 0, _write_file) is True
    dirs = committed_batch_dirs(path)
    assert len(dirs) == 1 and os.path.isfile(os.path.join(dirs[0], "part-0"))

    # replay: marker exists → write NOT called, nothing changes
    calls: list[str] = []
    assert commit_batch_dir_marker(path, 0, calls.append) is False
    assert calls == []
    assert committed_batch_dirs(path) == dirs


def test_marker_torn_attempt_is_invisible(tmp_path):
    path = str(tmp_path)

    def boom(data_dir):
        _write_file(data_dir)  # half-written batch ...
        raise RuntimeError("executor lost")  # ... then the writer dies

    with pytest.raises(RuntimeError):
        commit_batch_dir_marker(path, 0, boom)
    assert committed_batch_dirs(path) == []  # no marker → invisible
    # the retry commits cleanly into the same batch id
    assert commit_batch_dir_marker(path, 0, _write_file) is True
    assert len(committed_batch_dirs(path)) == 1


def test_marker_racer_loses_quietly(tmp_path):
    path = str(tmp_path)

    def write_then_racer_commits(data_dir):
        _write_file(data_dir, content="loser")
        # a concurrent driver publishes the identical batch mid-write
        commit_batch_dir_marker(path, 0, _write_file)

    assert commit_batch_dir_marker(path, 0, write_then_racer_commits) is False
    dirs = committed_batch_dirs(path)
    assert len(dirs) == 1
    assert open(os.path.join(dirs[0], "part-0")).read() == "x"  # winner's


def test_empty_marker_invisible_to_readers_loud_to_writers(tmp_path):
    """An empty marker can't be produced by the protocol (publish is an
    atomic link of a fully written file); if one appears (external
    corruption) readers skip it and a recommit FAILS LOUDLY instead of
    treating the batch as committed — silent loss is the one forbidden
    outcome."""
    path = str(tmp_path)
    os.makedirs(tmp_path / "batch-0")
    open(tmp_path / "batch-0" / "_COMMITTED", "w").close()
    assert committed_batch_dirs(path) == []
    with pytest.raises(ValueError, match="wedged empty commit marker"):
        commit_batch_dir_marker(path, 0, _write_file)


def test_marker_protocol_survives_broken_rename(monkeypatch, tmp_path):
    """The point of the variant: on a filesystem where rename is not
    available/atomic (object stores), the rename protocol fails loudly
    and the marker protocol commits fine — no rename anywhere in it."""

    def no_rename(src, dst):
        raise OSError(95, "Operation not supported")

    monkeypatch.setattr(os, "rename", no_rename)
    with pytest.raises(OSError, match="not supported"):
        commit_batch_dir(str(tmp_path / "rn"), 0, _write_file)
    assert commit_batch_dir_marker(str(tmp_path / "mk"), 0, _write_file)
    assert len(committed_batch_dirs(str(tmp_path / "mk"))) == 1


def test_bloom_collector_marker_equals_rename(spark, tmp_path):
    """End-to-end through the collectors: two batches + a replay under
    each protocol assemble to the SAME filter blob, and under marker a
    torn pre-commit attempt contributes nothing."""
    from pyspark.sql import functions as F

    from paas_auditor_spark.operators.bloom import (
        bloom_assemble,
        bloom_words_collector,
        bloom_words_read,
    )

    def keys(lo, hi):
        return spark.range(lo, hi).select(
            F.concat(F.lit("key"), F.col("id").cast("string")).alias("k")
        )

    m, k = 1 << 14, 4
    blobs = {}
    for protocol in ("rename", "marker"):
        path = str(tmp_path / protocol)
        hook = bloom_words_collector("k", path, m=m, k=k, protocol=protocol)
        hook(keys(0, 300), 0)
        hook(keys(200, 500), 1)
        hook(keys(999, 9999), 1)  # replayed id: must be a no-op
        words = bloom_words_read(spark, path, protocol=protocol)
        blobs[protocol] = bytes(
            bloom_assemble(words).collect()[0]["bloom"]
        )
    assert blobs["marker"] == blobs["rename"]


def _assemble(spark, path, protocol="rename"):
    from paas_auditor_spark.operators.bloom import (
        bloom_assemble,
        bloom_words_read,
    )

    return bytes(
        bloom_assemble(bloom_words_read(spark, path, protocol=protocol))
        .collect()[0]["bloom"]
    )


def _parquet_files(path):
    out = []
    for root, _dirs, files in os.walk(path):
        out += [f for f in files if f.endswith(".parquet")]
    return out


def test_compact_batches_preserves_reads_and_replay_floor(spark, tmp_path):
    """Folding every batch dir into one generation must be invisible to
    readers (bit-identical assembled filter), shrink the file count,
    keep replays of FOLDED batch ids no-ops (the floor — their dirs are
    gone, re-append would double-add), and accept new batches into the
    live generation."""
    from pyspark.sql import functions as F

    from paas_auditor_spark.operators.atomic import compact_batches
    from paas_auditor_spark.operators.bloom import bloom_words_collector

    def keys(lo, hi):
        return spark.range(lo, hi).select(
            F.concat(F.lit("k"), F.col("id").cast("string")).alias("k")
        )

    path = str(tmp_path / "words")
    m, k = 1 << 14, 4
    hook = bloom_words_collector("k", path, m=m, k=k)
    for i in range(4):
        hook(keys(i * 100, (i + 1) * 100), i)
    before = _assemble(spark, path)
    n_before = len(_parquet_files(path))

    assert compact_batches(spark, path) == 4
    assert _assemble(spark, path) == before
    assert len(_parquet_files(path)) < n_before

    hook(keys(9_000, 9_050), 2)  # replay of a FOLDED id: must be a no-op
    assert _assemble(spark, path) == before
    hook(keys(400, 500), 4)  # genuinely new batch: lands in the live gen
    after = _assemble(spark, path)
    assert after != before

    # second compaction folds gen-0's batch-0 + the new batch into gen-1
    assert compact_batches(spark, path) == 2
    assert _assemble(spark, path) == after
    assert open(tmp_path / "words" / "CURRENT").read().strip() == "gen-1"


def test_compact_batches_marker_protocol_and_postings(spark, tmp_path):
    """Compaction under the marker protocol, on the two-part inverted
    index: BM25 scores identical before/after, replay floor honored."""
    from paas_auditor_spark.operators.atomic import compact_batches
    from paas_auditor_spark.operators.ranking import (
        bm25_from_postings,
        postings_collector,
    )

    docs1 = spark.createDataFrame(
        [(1, "table scan"), (2, "merge table hash")],
        "doc_id long, text string",
    )
    docs2 = spark.createDataFrame(
        [(3, "hash hash scan"), (4, "table sort")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx")
    hook = postings_collector(path, protocol="marker")
    hook(docs1, 0)
    hook(docs2, 1)

    def scores():
        return {
            (r["doc_id"], round(r["score"], 6))
            for r in bm25_from_postings(
                spark, path, ["table", "hash"], protocol="marker"
            ).collect()
        }

    before = scores()
    assert (
        compact_batches(
            spark, path, parts=("postings", "doclens"), protocol="marker"
        )
        == 2
    )
    assert scores() == before
    hook(docs1, 1)  # replay of a folded id: no-op
    assert scores() == before


def test_compaction_between_streaming_waves(spark, tmp_path):
    """The single-writer contract in its real setting: a document
    stream lands wave 1 through postings_collector, compaction runs
    BETWEEN micro-batch waves (same driver, stream quiesced — the
    documented rule), the stream resumes from its checkpoint into the
    new generation, and the accumulated index still scores exactly like
    a batch rebuild over everything landed."""
    import os

    from paas_auditor_spark.operators.atomic import compact_batches
    from paas_auditor_spark.operators.ranking import (
        bm25_from_postings,
        bm25_scores,
        postings_collector,
    )

    src = str(tmp_path / "src")
    idx = str(tmp_path / "idx")
    os.makedirs(src)
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    wave1 = [(1, "table scan table"), (2, "merge hash")]
    wave2 = [(3, "table merge merge"), (4, "hash hash table scan")]

    def run_stream():
        q = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(postings_collector(idx))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    mk(wave1[:1]).coalesce(1).write.mode("append").parquet(src)
    mk(wave1[1:]).coalesce(1).write.mode("append").parquet(src)
    run_stream()  # two micro-batches landed
    assert compact_batches(spark, idx, parts=("postings", "doclens")) == 2

    mk(wave2).coalesce(1).write.mode("append").parquet(src)
    run_stream()  # post-compaction batch lands in the live generation

    def score_set(df):
        return {
            (r["doc_id"], round(r["score"], 6)) for r in df.collect()
        }

    got = score_set(bm25_from_postings(spark, idx, ["table", "hash"]))
    want = score_set(bm25_scores(mk(wave1 + wave2), ["table", "hash"]))
    assert got == want


def test_vacuum_superseded_reaps_generations_and_orphans(spark, tmp_path):
    """vacuum_superseded is the deferred-delete reaper: superseded
    generations, crash-orphaned gen dirs, SIGKILLed tmp build dirs and
    stale v1 batch dirs all go; the live generation stays readable."""
    from pyspark.sql import functions as F

    from paas_auditor_spark.operators.atomic import (
        compact_batches,
        vacuum_superseded,
    )
    from paas_auditor_spark.operators.bloom import bloom_words_collector

    path = str(tmp_path / "words")
    hook = bloom_words_collector("k", path, m=1 << 12, k=3)
    for i in range(3):
        hook(
            spark.range(i * 30, (i + 1) * 30).select(
                F.concat(F.lit("v"), F.col("id").cast("string")).alias("k")
            ),
            i,
        )
    assert vacuum_superseded(path) == 0  # v1, never compacted: no-op
    before = _assemble(spark, path)
    assert compact_batches(spark, path, defer_delete=True) == 3
    # deferred: the stale v1 batch dirs are still on disk
    stale = [d for d in os.listdir(path) if d.startswith("batch-")]
    assert len(stale) == 3
    # plant crash leftovers: an orphaned generation and a tmp build dir,
    # BACKDATED past the orphan age gate (a fresh one could be an
    # in-flight fold's work — r8 review)
    os.makedirs(tmp_path / "words" / "gen-7" / "batch-0")
    os.makedirs(tmp_path / "words" / ".gen-8.tmp999")
    past = __import__("time").time() - 3600
    # backdate the TREES (r11: the gate ages by the newest dir mtime in
    # the tree, so a fresh nested dir reads as in-flight work)
    os.utime(tmp_path / "words" / "gen-7", (past, past))
    os.utime(tmp_path / "words" / "gen-7" / "batch-0", (past, past))
    os.utime(tmp_path / "words" / ".gen-8.tmp999", (past, past))
    assert vacuum_superseded(path) == 5  # 3 stale batches + orphan + tmp
    left = sorted(os.listdir(path))
    assert left == ["CURRENT", "gen-0"]
    assert _assemble(spark, path) == before


def test_compact_refuses_wedged_marker(spark, tmp_path):
    """A wedged (empty) marker below the fold's max committed id would
    be absorbed by the replay floor and its data deleted — compaction
    must refuse loudly instead, mirroring the commit path's raise."""
    from paas_auditor_spark.operators.atomic import compact_batches
    from paas_auditor_spark.operators.ranking import postings_collector

    path = str(tmp_path / "idx")
    hook = postings_collector(path, protocol="marker")
    hook(
        spark.createDataFrame([(1, "a b")], "doc_id long, text string"), 0
    )
    hook(
        spark.createDataFrame([(2, "c d")], "doc_id long, text string"), 2
    )
    os.makedirs(tmp_path / "idx" / "batch-1")
    open(tmp_path / "idx" / "batch-1" / "_COMMITTED", "w").close()
    with pytest.raises(ValueError, match="refusing to compact"):
        compact_batches(
            spark, path, parts=("postings", "doclens"), protocol="marker"
        )


def test_compact_refuses_unmarked_batch_below_floor(spark, tmp_path):
    """ADVICE r7: a torn attempt with NO marker whose id is below the
    fold's replay floor would have its retry silently suppressed after
    compaction (unmarked data dir deleted with the old generation) —
    the same silent-loss shape as the wedged empty marker, previously
    unguarded.  Compaction must refuse loudly at fold time instead of
    assuming Structured Streaming's in-sequence batch-id invariant."""
    from paas_auditor_spark.operators.atomic import compact_batches
    from paas_auditor_spark.operators.ranking import postings_collector

    path = str(tmp_path / "idx")
    hook = postings_collector(path, protocol="marker")
    hook(spark.createDataFrame([(1, "a b")], "doc_id long, text string"), 0)
    hook(spark.createDataFrame([(2, "c d")], "doc_id long, text string"), 2)
    # torn attempt at id 1 (< max committed id 2): data dir, no marker
    _write_file(str(tmp_path / "idx" / "batch-1" / "attempt-torn"))
    with pytest.raises(ValueError, match="unmarked batch dir"):
        compact_batches(
            spark, path, parts=("postings", "doclens"), protocol="marker"
        )
    # repair: recommit the torn batch (unmarked → a fresh attempt wins)
    hook(spark.createDataFrame([(3, "e f")], "doc_id long, text string"), 1)
    assert (
        compact_batches(
            spark, path, parts=("postings", "doclens"), protocol="marker"
        )
        == 3
    )


@pytest.mark.parametrize("commit", [commit_batch_dir, commit_batch_dir_marker])
def test_commit_self_rescues_when_generation_flips_mid_write(tmp_path, commit):
    """ADVICE r7 + r8: commit resolves collector_root once at entry; if
    a concurrent compaction flips CURRENT between that resolution and
    the publish, the batch lands in a superseded generation that vacuum
    later deletes.  The post-publish re-check must not merely raise
    (one-shot callers treat the exception as failure and the batch stays
    invisible until a sweep happens to run): it SELF-RESCUES — moves the
    just-published dir into the live generation and reports success."""
    from paas_auditor_spark.operators.atomic import collector_root

    path = str(tmp_path)
    # dataset already generational: CURRENT → gen-0
    os.makedirs(tmp_path / "gen-0")
    with open(tmp_path / "CURRENT", "w") as fh:
        fh.write("gen-0\n")

    def write_and_flip(data_dir):
        _write_file(data_dir)
        os.makedirs(tmp_path / "gen-1")
        os.replace(  # the racing fold flips the pointer mid-write
            _ptr_tmp(tmp_path, "gen-1"), str(tmp_path / "CURRENT")
        )

    assert commit(path, 5, write_and_flip) is True
    assert collector_root(path) == str(tmp_path / "gen-1")
    # the batch is visible in the LIVE generation, not the superseded one
    assert os.path.isdir(tmp_path / "gen-1" / "batch-5")
    assert not os.path.isdir(tmp_path / "gen-0" / "batch-5")
    # replay of the rescued id is a no-op
    assert commit(path, 5, _write_file) is False


@pytest.mark.parametrize("commit", [commit_batch_dir, commit_batch_dir_marker])
def test_commit_raises_only_on_double_flip_mid_rescue(tmp_path, commit):
    """The retry-safe GenerationSupersededError still surfaces when a
    SECOND compaction flips CURRENT during the rescue itself (the batch
    would otherwise ride the first rescue target — now superseded — to
    deletion), and the caller's retry then lands it in the live gen."""
    from paas_auditor_spark.operators import atomic
    from paas_auditor_spark.operators.atomic import (
        GenerationSupersededError,
        collector_root,
    )

    path = str(tmp_path)
    os.makedirs(tmp_path / "gen-0")
    with open(tmp_path / "CURRENT", "w") as fh:
        fh.write("gen-0\n")

    def write_and_flip(data_dir):
        _write_file(data_dir)
        os.makedirs(tmp_path / "gen-1")
        os.replace(
            _ptr_tmp(tmp_path, "gen-1"), str(tmp_path / "CURRENT")
        )

    # the rescue's post-rename pointer read sees yet another flip: patch
    # os.rename so the second fold lands exactly inside the rescue window
    real_rename = os.rename

    def rename_then_second_flip(src, dst):
        real_rename(src, dst)
        if os.path.basename(dst) == "batch-7" and "gen-1" in dst:
            os.makedirs(tmp_path / "gen-2", exist_ok=True)
            os.replace(
                _ptr_tmp(tmp_path, "gen-2"), str(tmp_path / "CURRENT")
            )

    orig = atomic.os.rename
    atomic.os.rename = rename_then_second_flip
    try:
        with pytest.raises(GenerationSupersededError, match="retry"):
            commit(path, 7, write_and_flip)
    finally:
        atomic.os.rename = orig
    assert collector_root(path) == str(tmp_path / "gen-2")
    # the documented recovery — a retry — re-resolves and commits live
    assert commit(path, 7, _write_file) is True
    assert os.path.isdir(tmp_path / "gen-2" / "batch-7")


def _ptr_tmp(tmp_path, gen):
    p = str(tmp_path / ".CURRENT.tmp-test")
    with open(p, "w") as fh:
        fh.write(gen + "\n")
    return p


def test_vacuum_retains_reader_grace_generations(spark, tmp_path):
    """VERDICT r7 #5: a reader that resolved generation n keeps its
    files through TWO further vacuum-then-fold rounds, not
    one — vacuum retains the newest ``retain`` superseded generations,
    so long scans can't hit FileNotFound one flip after resolving."""
    from pyspark.sql import functions as F

    from paas_auditor_spark.operators.atomic import (
        batch_data_paths,
        collector_root,
        compact_batches,
        vacuum_superseded,
    )
    from paas_auditor_spark.operators.bloom import bloom_words_collector

    path = str(tmp_path / "words")
    hook = bloom_words_collector("k", path, m=1 << 12, k=3)

    def add(lo, hi, bid):
        hook(
            spark.range(lo, hi).select(
                F.concat(F.lit("g"), F.col("id").cast("string")).alias("k")
            ),
            bid,
        )

    add(0, 30, 0)
    add(30, 60, 1)
    assert compact_batches(spark, path, defer_delete=True) == 2  # → gen-0
    assert collector_root(path).endswith("gen-0")
    # a long-running reader resolves gen-0's file list NOW
    reader = spark.read.parquet(*batch_data_paths(path, "rename"))
    want = reader.count()

    # tick 1: vacuum (gen-0 is current: nothing), fold → gen-1
    vacuum_superseded(path)
    add(60, 90, 2)
    add(90, 120, 3)
    # 3 dirs: gen-0's folded batch-0 + the two new batches
    assert compact_batches(spark, path, defer_delete=True) == 3
    # tick 2: vacuum retains gen-0 (newest superseded), fold → gen-2
    vacuum_superseded(path)
    assert os.path.isdir(tmp_path / "words" / "gen-0")
    add(120, 150, 4)
    add(150, 180, 5)
    assert compact_batches(spark, path, defer_delete=True) == 3
    # the reader that resolved two flips ago still completes
    assert reader.count() == want
    # tick 3: superseded = {gen-0, gen-1}, both inside the 2-generation
    # grace window — nothing reclaimed yet
    vacuum_superseded(path)
    assert os.path.isdir(tmp_path / "words" / "gen-0")
    # tick 4: one more fold pushes gen-0 to third-newest superseded →
    # reclaimed; gen-1/gen-2 stay inside the grace window
    add(180, 210, 6)
    add(210, 240, 7)
    assert compact_batches(spark, path, defer_delete=True) == 3
    vacuum_superseded(path)
    assert not os.path.isdir(tmp_path / "words" / "gen-0")
    assert os.path.isdir(tmp_path / "words" / "gen-1")
    assert os.path.isdir(tmp_path / "words" / "gen-2")


def test_fold_rescues_batch_committed_during_fold(spark, tmp_path, monkeypatch):
    """r8 review: a raw hook publishing between a fold's directory
    listing and its pointer flip was silently lost (absent from the new
    generation, id above the floor so replays no-op, old generation
    vacuumed).  The post-flip rescue sweep must move it into the live
    generation.  Simulated by intercepting the fold's CURRENT rename:
    the racing commit publishes just before the flip and reports
    SUCCESS (its own pointer check still sees the old generation)."""
    from pyspark.sql import functions as F

    from paas_auditor_spark.operators.atomic import compact_batches
    from paas_auditor_spark.operators.bloom import (
        bloom_words_collector,
        bloom_words_read,
    )

    path = str(tmp_path / "words")
    hook = bloom_words_collector("k", path, m=1 << 12, k=3)
    for i in range(2):
        hook(
            spark.range(i * 20, (i + 1) * 20).select(
                F.concat(F.lit("w"), F.col("id").cast("string")).alias("k")
            ),
            i,
        )
    late = spark.range(900, 930).select(
        F.concat(F.lit("w"), F.col("id").cast("string")).alias("k")
    )

    real_rename = os.rename
    state = {"fired": False}

    def rename_with_race(src, dst):
        if os.path.basename(dst) == "CURRENT" and not state["fired"]:
            state["fired"] = True
            # the racing commit lands in the OLD generation (CURRENT is
            # not yet flipped) and reports success
            assert hook(late, 7) is None  # collector hooks return None
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", rename_with_race)
    assert compact_batches(spark, path) == 2
    monkeypatch.setattr(os, "rename", real_rename)
    assert state["fired"]
    # the late batch survived the fold: its words are readable from the
    # live generation and its replay is suppressed by directory presence
    from paas_auditor_spark.operators.atomic import collector_root

    assert os.path.isdir(os.path.join(collector_root(path), "batch-7"))
    assert bloom_words_read(spark, path).count() > 0
    before = bloom_words_read(spark, path).count()
    hook(late, 7)  # replay: directory exists → no-op (no double count)
    assert bloom_words_read(spark, path).count() == before


def test_vacuum_rescues_unfolded_batch_and_spares_fresh_orphans(
    spark, tmp_path
):
    """r8 review: (a) vacuum must MOVE a committed-but-unfolded batch
    out of a superseded generation instead of deleting it; (b) a
    gen-<n> ABOVE the current generation is reclaimed only once older
    than the orphan age gate — a fresh one may be an in-flight fold's
    renamed-but-not-yet-flipped work."""
    from pyspark.sql import functions as F

    from paas_auditor_spark.operators.atomic import (
        collector_root,
        commit_batch_dir,
        compact_batches,
        vacuum_superseded,
    )
    from paas_auditor_spark.operators.bloom import bloom_words_collector

    path = str(tmp_path / "words")
    hook = bloom_words_collector("k", path, m=1 << 12, k=3)
    for i in range(2):
        hook(
            spark.range(i * 10, (i + 1) * 10).select(
                F.concat(F.lit("v"), F.col("id").cast("string")).alias("k")
            ),
            i,
        )
    assert compact_batches(spark, path, defer_delete=True) == 2  # → gen-0
    hook(spark.range(50, 60).select(
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("k")), 2)
    assert compact_batches(spark, path, defer_delete=True) == 2  # → gen-1

    # plant an unfolded commit inside the superseded gen-0 (id 9 > floor)
    os.makedirs(tmp_path / "words" / "gen-0" / "batch-9")
    with open(tmp_path / "words" / "gen-0" / "batch-9" / "part-0", "w") as fh:
        fh.write("x")
    # and a FRESH above-current generation (an in-flight fold's rename)
    os.makedirs(tmp_path / "words" / "gen-5" / "batch-0")

    vacuum_superseded(path, retain=0)
    cur = collector_root(path)
    assert cur.endswith("gen-1")
    assert os.path.isdir(os.path.join(cur, "batch-9"))  # rescued, not lost
    assert not os.path.isdir(tmp_path / "words" / "gen-0")  # reclaimed
    assert os.path.isdir(tmp_path / "words" / "gen-5")  # fresh: spared
    past = __import__("time").time() - 3600
    # backdate the tree (r11: the gate ages by newest dir mtime in it)
    os.utime(tmp_path / "words" / "gen-5", (past, past))
    os.utime(tmp_path / "words" / "gen-5" / "batch-0", (past, past))
    vacuum_superseded(path, retain=0)
    assert not os.path.isdir(tmp_path / "words" / "gen-5")  # aged: reaped


def test_vacuum_tolerates_foreign_generation_names(spark, tmp_path):
    """ADVICE r8: vacuum_superseded parses gen-* ids; an operator-created
    directory like gen-backup must be tolerated (skipped), not crash
    every scheduled vacuum with a ValueError."""
    from paas_auditor_spark.operators.atomic import vacuum_superseded

    os.makedirs(tmp_path / "gen-0")
    os.makedirs(tmp_path / "gen-backup")
    (tmp_path / "gen-backup" / "keep.txt").write_text("operator data")
    with open(tmp_path / "CURRENT", "w") as fh:
        fh.write("gen-0\n")
    removed = vacuum_superseded(str(tmp_path))
    assert removed == 0
    assert (tmp_path / "gen-backup" / "keep.txt").exists()


def test_marker_rescue_migrates_past_racer_scaffolding(tmp_path):
    """r9 review (reproduced pre-fix): under the marker protocol an
    in-flight racer's makedirs-only batch dir in the live generation
    must NOT satisfy the self-rescue's 'already committed there' check —
    the committed attempt + marker must migrate in, or the only durable
    copy dies with its generation at the next vacuum."""
    from paas_auditor_spark.operators.atomic import (
        commit_batch_dir_marker,
        committed_batch_dirs,
        vacuum_superseded,
    )

    path = str(tmp_path)
    os.makedirs(tmp_path / "gen-0")
    with open(tmp_path / "CURRENT", "w") as fh:
        fh.write("gen-0\n")

    def write_flip_and_scaffold(data_dir):
        _write_file(data_dir)
        os.makedirs(tmp_path / "gen-1")
        os.replace(_ptr_tmp(tmp_path, "gen-1"), str(tmp_path / "CURRENT"))
        # a racing (then dying) replayer has ONLY created the batch dir
        # scaffolding in the live generation — no data, no marker
        os.makedirs(tmp_path / "gen-1" / "batch-5" / "attempt-dead")

    assert commit_batch_dir_marker(path, 5, write_flip_and_scaffold) is True
    dirs = committed_batch_dirs(path)  # resolves gen-1
    assert len(dirs) == 1
    assert os.path.isfile(os.path.join(dirs[0], "part-0"))
    # vacuum (aging gates off) must not delete the only committed copy
    vacuum_superseded(path, retain=0, orphan_age_s=0.0)
    dirs2 = committed_batch_dirs(path)
    assert len(dirs2) == 1 and os.path.isfile(os.path.join(dirs2[0], "part-0"))
    # replay of the rescued id is a no-op
    assert commit_batch_dir_marker(path, 5, _write_file) is False


def test_compact_tolerates_foreign_batch_names(spark, tmp_path):
    """r9 review (reproduced pre-fix): compact_batches crashed with
    ValueError on an operator-created batch-backup dir, permanently
    failing every scheduled fold under both protocols."""
    from pyspark.sql import functions as F

    from paas_auditor_spark.operators.atomic import compact_batches
    from paas_auditor_spark.operators.bloom import bloom_words_collector

    for protocol in ("rename", "marker"):
        path = str(tmp_path / protocol)
        hook = bloom_words_collector(
            "k", path, m=1 << 12, k=3, protocol=protocol
        )
        for i in range(3):
            hook(
                spark.range(i * 10, (i + 1) * 10).select(
                    F.concat(F.lit("b"), F.col("id").cast("string")).alias("k")
                ),
                i,
            )
        os.makedirs(os.path.join(path, "batch-backup"))
        with open(os.path.join(path, "batch-backup", "note.txt"), "w") as fh:
            fh.write("operator data")
        assert compact_batches(spark, path, protocol=protocol) == 3
        before = _assemble(spark, path, protocol=protocol)
        assert before  # dataset still reads fine after the fold


def test_rename_read_of_marker_dataset_raises(tmp_path):
    """r11 review: a marker-committed dataset read with
    protocol='rename' must raise — the rename listing would hand Spark
    batch dirs whose parquet sits one level deeper under attempt
    scaffolding (torn and losing attempts included)."""
    from paas_auditor_spark.operators.atomic import batch_data_paths

    path = str(tmp_path)
    assert commit_batch_dir_marker(path, 0, _write_file) is True
    with pytest.raises(ValueError, match="marker"):
        batch_data_paths(path, "rename")


def test_rescue_skips_unmarked_marker_scaffolding(tmp_path):
    """r11 review: _move_published_batch must not bare-rename a
    marker-protocol batch dir whose marker has not landed yet (an
    in-flight writer's attempt dirs) — migrating half an attempt lets
    the writer's later publish commit a partial batch."""
    from paas_auditor_spark.operators.atomic import _move_published_batch

    src = tmp_path / "old" / "batch-3"
    (src / "attempt-123-abc").mkdir(parents=True)
    with open(src / "attempt-123-abc" / "part-0", "w") as fh:
        fh.write("x")
    dst = tmp_path / "live" / "batch-3"
    dst.parent.mkdir()
    assert _move_published_batch(str(src), str(dst)) == "skipped"
    assert src.exists() and not dst.exists()
    # an empty scaffolding dir (bare makedirs) is equally not a publish
    src2 = tmp_path / "old" / "batch-4"
    src2.mkdir()
    assert _move_published_batch(
        str(src2), str(tmp_path / "live" / "batch-4")
    ) == "skipped"


def test_marker_commit_keeps_published_data_on_late_failure(
    tmp_path, monkeypatch
):
    """r11 review: once the marker names the attempt, the cleanup
    handler must NOT delete the attempt data — a failure AFTER publish
    (e.g. the generation-stability guard raising) would otherwise wedge
    a non-empty marker over a missing attempt, with the retry seeing
    'already committed' and suppressing the replay: permanent loss."""
    from paas_auditor_spark.operators import atomic

    def boom(path, root, batch_id):
        raise RuntimeError("post-publish failure")

    monkeypatch.setattr(atomic, "_check_generation_stable", boom)
    path = str(tmp_path)
    with pytest.raises(RuntimeError, match="post-publish"):
        commit_batch_dir_marker(path, 0, _write_file)
    # the publish survived: the batch is committed-visible and readable
    dirs = committed_batch_dirs(path)
    assert len(dirs) == 1
    assert os.path.isfile(os.path.join(dirs[0], "part-0"))


def test_vacuum_age_gates_batch_tmp_and_uses_tree_mtime(spark, tmp_path):
    """r11 review: (a) .batch-*.tmp dirs get the same in-flight age
    gate as .gen-* build dirs; (b) the age comes from the newest DIR
    mtime in the tree, so a long fold whose writes land in nested
    subdirs is not reaped while actively writing."""
    import time

    from paas_auditor_spark.operators.atomic import (
        commit_batch_dir,
        compact_batches,
        vacuum_superseded,
    )

    path = str(tmp_path / "ds")

    def w(i):
        def write(d):
            spark.range(i * 10, i * 10 + 10).write.parquet(d)

        return write

    for i in range(3):
        commit_batch_dir(path, i, w(i))
    assert compact_batches(spark, path) == 3  # dataset goes generational

    # a FRESH .batch tmp (in-flight commit) must be spared
    fresh = os.path.join(path, ".batch-9.tmp123")
    os.makedirs(fresh)
    vacuum_superseded(path, retain=0)
    assert os.path.isdir(fresh)
    # backdate it: now it is a crash orphan and is reaped
    old = time.time() - 10_000
    os.utime(fresh, (old, old))
    vacuum_superseded(path, retain=0)
    assert not os.path.isdir(fresh)

    # a build dir whose TOP mtime is stale but whose nested write dir
    # is fresh (a long fold mid-write) must be spared
    build = os.path.join(path, ".gen-9.tmp123")
    inner = os.path.join(build, "batch-0", "bands")
    os.makedirs(inner)
    os.utime(build, (old, old))
    os.utime(os.path.join(build, "batch-0"), (old, old))
    # inner stays fresh (just created)
    vacuum_superseded(path, retain=0)
    assert os.path.isdir(build)
    os.utime(inner, (old, old))
    vacuum_superseded(path, retain=0)
    assert not os.path.isdir(build)


def test_tombstone_fold_steady_state_noop(spark, tmp_path):
    """r11 review: after a fold, re-invoking apply_tombstones_fold with
    no new batches and an unchanged tombstone set must be a no-op (0)
    instead of a full dataset rewrite per tick forever."""
    from paas_auditor_spark.operators.atomic import (
        apply_tombstones_fold,
        collector_root,
        commit_batch_dir,
        tombstones_collector,
    )

    path = str(tmp_path / "ds")
    for i in range(3):
        commit_batch_dir(
            path,
            i,
            lambda d, i=i: spark.range(i * 10, i * 10 + 10)
            .withColumnRenamed("id", "doc_id")
            .write.parquet(d),
        )
    tomb = str(tmp_path / "tomb")
    tombstones_collector(tomb, id_col="doc_id")(
        spark.range(5).withColumnRenamed("id", "doc_id"), 0
    )
    assert apply_tombstones_fold(spark, path, tomb, id_col="doc_id") == 3
    gen_after_first = collector_root(path)
    # steady state: no new batches, same tombstones -> no rewrite
    assert apply_tombstones_fold(spark, path, tomb, id_col="doc_id") == 0
    assert collector_root(path) == gen_after_first
    # a NEW tombstone batch re-arms the fold
    tombstones_collector(tomb, id_col="doc_id")(
        spark.range(5, 8).withColumnRenamed("id", "doc_id"), 1
    )
    assert apply_tombstones_fold(spark, path, tomb, id_col="doc_id") == 1
    left = {
        r["doc_id"]
        for r in spark.read.parquet(
            os.path.join(collector_root(path), "batch-0")
        ).collect()
    }
    assert left == set(range(8, 30))


@pytest.mark.parametrize(
    "crash_point", ["gen_renamed_no_flip", "flipped_no_cleanup"]
)
def test_restart_after_kill_during_fold(
    spark, tmp_path, monkeypatch, crash_point
):
    """A kill IN THE MIDDLE of a fold (``vacuum_superseded`` then
    ``compact_batches(defer_delete=True)``), at both kill windows a real
    SIGKILL can hit — (a) after the new generation dir is renamed into
    place but before the CURRENT pointer flips (readers must keep
    resolving the OLD generation; the orphan gen must not wedge later
    folds), and (b) after the flip but before the post-flip
    rescue/cleanup sweep (readers resolve the NEW generation; stale v1
    batch dirs must be vacuumed, not double-counted).  After restart:
    reads bit-identical to a one-shot filter, the next fold succeeds,
    and pre-kill batch ids stay replay-suppressed."""
    from pyspark.sql import functions as F

    from paas_auditor_spark.operators import atomic
    from paas_auditor_spark.operators.bloom import (
        bloom_assemble,
        bloom_words,
        bloom_words_collector,
        bloom_words_read,
    )

    m, k = 1 << 13, 3
    path = str(tmp_path / "words")

    def fold() -> int:
        # vacuum what an earlier fold superseded, then fold with the
        # reader-grace delete discipline
        atomic.vacuum_superseded(path)
        return atomic.compact_batches(spark, path, defer_delete=True)

    def keys(lo, hi):
        return spark.range(lo, hi).select(
            F.concat(F.lit("w"), F.col("id").cast("string")).alias("k")
        )

    def assembled():
        return bytes(
            bloom_assemble(bloom_words_read(spark, path)).collect()[0]["bloom"]
        )

    def one_shot(hi):
        return bytes(
            bloom_assemble(bloom_words(keys(0, hi), "k", m=m, k=k))
            .collect()[0]["bloom"]
        )

    hook = bloom_words_collector("k", path, m=m, k=k)
    for i in range(3):
        hook(keys(i * 40, (i + 1) * 40), i)

    class SimKill(BaseException):
        """Simulated SIGKILL: BaseException so no except-Exception
        policy in the stack can swallow it."""

    if crash_point == "gen_renamed_no_flip":
        real_rename = os.rename

        def killer(src, dst):
            if os.path.basename(dst) == atomic._CURRENT:
                raise SimKill()  # gen dir landed; pointer never flips
            return real_rename(src, dst)

        monkeypatch.setattr(atomic.os, "rename", killer)
    else:

        def killer_rescue(old_root, new_root):
            raise SimKill()  # flip landed; rescue/cleanup never ran

        monkeypatch.setattr(atomic, "_rescue_unfolded", killer_rescue)

    with pytest.raises(SimKill):
        fold()
    monkeypatch.undo()

    if crash_point == "gen_renamed_no_flip":
        # pointer never flipped: readers resolve the pre-fold layout and
        # the orphaned generation is invisible
        assert not os.path.exists(os.path.join(path, atomic._CURRENT))
        assert os.path.isdir(os.path.join(path, "gen-0"))
    else:
        assert atomic.collector_root(path).endswith("gen-0")
    assert assembled() == one_shot(120)  # reads correct immediately

    # restart: same disk, fresh process state
    hook = bloom_words_collector("k", path, m=m, k=k)
    assert assembled() == one_shot(120)

    # pre-kill ids stay replay-suppressed across the kill + restart in
    # the flipped case (the fold's floor landed with the flip); in the
    # no-flip case the fold never became visible, so the replay re-lands
    # harmlessly identical bits (idempotent OR) — either way the filter
    # is unchanged
    hook(keys(0, 40), 0)
    assert assembled() == one_shot(120)

    # accumulate three delta batches again; the next fold must succeed,
    # skipping over / superseding whatever the kill left behind.  Once
    # a folded generation exists its batch-0 is the fold artifact, not
    # a delta
    def _delta_dirs():
        root = atomic.collector_root(path)
        return sum(
            1
            for d in os.listdir(root)
            if d.startswith("batch-")
            and not (root != path and d == "batch-0")
        )

    next_id = 3
    while _delta_dirs() < 3:
        hook(keys(next_id * 40, (next_id + 1) * 40), next_id)
        next_id += 1
    assert fold() >= 3
    hi = next_id * 40
    assert assembled() == one_shot(hi)
    assert os.path.exists(os.path.join(path, atomic._CURRENT))

    # replay of a folded id is suppressed by the new floor
    hook(keys(0, 40), 1)
    assert assembled() == one_shot(hi)

    # a later vacuum (past the in-flight grace window) reaps the kill's
    # leftovers without touching the live generation
    atomic.vacuum_superseded(path, retain=0, orphan_age_s=0.0)
    live = os.path.basename(atomic.collector_root(path))
    leftovers = [
        d
        for d in os.listdir(path)
        if d != live and d != atomic._CURRENT and not d.startswith(".CURRENT")
    ]
    assert leftovers == []
    assert assembled() == one_shot(hi)
