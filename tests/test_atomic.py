"""The collector commit/compact protocol (operators/atomic.py).

The commit's own contract (replay skip, racer loss, loud failure) is
pinned in test_bloom.py; this file pins what a generational dataset
adds on top of it: the compaction fold, its replay floor, the commit's
self-rescue when a fold flips the generation mid-write, the fold's
post-flip rescue sweep, and recovery from a fold killed part-way.
"""

from __future__ import annotations

import errno
import os

import pytest

from paas_auditor_spark.operators.atomic import commit_batch_dir

# histogram geometry of every collector dataset below: 16 bins over
# [0, 10000), so each value id lands in bin id // 625
_BINS, _LO, _HI = 16, 0.0, 10_000.0


def _write_file(data_dir, name="part-0", content="x"):
    os.makedirs(data_dir)
    with open(os.path.join(data_dir, name), "w") as fh:
        fh.write(content)


def _values(spark, lo, hi):
    from pyspark.sql import functions as F

    return spark.range(lo, hi).select(F.col("id").cast("double").alias("v"))


def _hist_hook(path):
    from paas_auditor_spark.operators.quantiles import hist_collector

    return hist_collector("v", path, _BINS, _LO, _HI)


def _bins(sketch):
    """A merged sketch as its sorted non-empty (bin, count) pairs."""
    from paas_auditor_spark.operators.quantiles import hist_merge

    return sorted(
        (r["bin"], r["cnt"]) for r in hist_merge(sketch).collect() if r["cnt"]
    )


def _sketch(spark, path):
    """Every committed batch of a histogram collector dataset, merged.
    Counts ADD across batches, so a double-appended replay shows."""
    from paas_auditor_spark.operators.quantiles import hist_read

    return _bins(hist_read(spark, path))


def _one_shot(spark, lo, hi):
    """The sketch of values [lo, hi) built in one pass."""
    from paas_auditor_spark.operators.quantiles import hist_sketch

    return _bins(hist_sketch(_values(spark, lo, hi), "v", _BINS, _LO, _HI))


def _parquet_files(path):
    out = []
    for root, _dirs, files in os.walk(path):
        out += [f for f in files if f.endswith(".parquet")]
    return out


def test_compact_batches_preserves_reads_and_replay_floor(spark, tmp_path):
    """Folding every batch dir into one generation must be invisible to
    readers (identical merged sketch), shrink the file count,
    keep replays of FOLDED batch ids no-ops (the floor — their dirs are
    gone, re-append would double-add), and accept new batches into the
    live generation."""
    from paas_auditor_spark.operators.atomic import compact_batches

    path = str(tmp_path / "hist")
    hook = _hist_hook(path)
    for i in range(4):
        hook(_values(spark, i * 100, (i + 1) * 100), i)
    before = _sketch(spark, path)
    n_before = len(_parquet_files(path))

    assert compact_batches(spark, path) == 4
    assert _sketch(spark, path) == before
    assert len(_parquet_files(path)) < n_before

    hook(_values(spark, 9_000, 9_050), 2)  # replay of a FOLDED id: no-op
    assert _sketch(spark, path) == before
    hook(_values(spark, 400, 500), 4)  # genuinely new batch: live gen
    after = _sketch(spark, path)
    assert after != before
    assert after == _one_shot(spark, 0, 500)

    # second compaction folds gen-0's batch-0 + the new batch into gen-1
    assert compact_batches(spark, path) == 2
    assert _sketch(spark, path) == after
    assert open(tmp_path / "hist" / "CURRENT").read().strip() == "gen-1"


def test_compact_batches_postings_preserves_scores_and_floor(spark, tmp_path):
    """Compaction of the two-part inverted index: BM25 scores identical
    before/after, replay floor honored."""
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
    hook = postings_collector(path)
    hook(docs1, 0)
    hook(docs2, 1)

    def scores():
        return {
            (r["doc_id"], round(r["score"], 6))
            for r in bm25_from_postings(
                spark, path, ["table", "hash"]
            ).collect()
        }

    before = scores()
    assert compact_batches(spark, path, parts=("postings", "doclens")) == 2
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


def test_commit_self_rescues_when_generation_flips_mid_write(tmp_path):
    """commit_batch_dir resolves collector_root once at entry; if
    a concurrent compaction flips CURRENT between that resolution and
    the publish, the batch lands in a superseded generation that the
    fold deletes.  The post-publish re-check must not merely raise
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

    assert commit_batch_dir(path, 5, write_and_flip) is True
    assert collector_root(path) == str(tmp_path / "gen-1")
    # the batch is visible in the LIVE generation, not the superseded one
    assert os.path.isdir(tmp_path / "gen-1" / "batch-5")
    assert not os.path.isdir(tmp_path / "gen-0" / "batch-5")
    # replay of the rescued id is a no-op
    assert commit_batch_dir(path, 5, _write_file) is False


def test_commit_raises_only_on_double_flip_mid_rescue(tmp_path):
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
            commit_batch_dir(path, 7, write_and_flip)
    finally:
        atomic.os.rename = orig
    assert collector_root(path) == str(tmp_path / "gen-2")
    # the documented recovery — a retry — re-resolves and commits live
    assert commit_batch_dir(path, 7, _write_file) is True
    assert os.path.isdir(tmp_path / "gen-2" / "batch-7")


def _ptr_tmp(tmp_path, gen):
    p = str(tmp_path / ".CURRENT.tmp-test")
    with open(p, "w") as fh:
        fh.write(gen + "\n")
    return p


@pytest.mark.parametrize("rescue", ["moved", "blocked"])
def test_fold_rescues_batch_committed_during_fold(
    spark, tmp_path, monkeypatch, rescue
):
    """A raw hook publishing between a fold's directory listing and its
    pointer flip must not be lost (absent from the new generation, id
    above the floor so replays no-op, old generation deleted): the
    post-flip rescue sweep moves it into the live generation.  Simulated
    by intercepting the fold's CURRENT rename: the racing commit
    publishes just before the flip and reports SUCCESS (its own pointer
    check still sees the old generation).  When the rescue rename itself
    fails (``blocked``), the fold raises and leaves the batch on disk in
    the superseded root, and the next fold places it."""
    from paas_auditor_spark.operators.atomic import (
        collector_root,
        compact_batches,
    )
    from paas_auditor_spark.operators.quantiles import hist_sketch

    path = str(tmp_path / "hist")
    hook = _hist_hook(path)
    for i in range(2):
        hook(_values(spark, i * 20, (i + 1) * 20), i)
    late = _values(spark, 900, 930)

    real_rename = os.rename
    state = {"fired": False}

    def rename_with_race(src, dst):
        if os.path.basename(dst) == "CURRENT" and not state["fired"]:
            state["fired"] = True
            # the racing commit lands in the OLD generation (CURRENT is
            # not yet flipped) and reports success
            assert hook(late, 7) is None  # collector hooks return None
        if (
            rescue == "blocked"
            and os.path.basename(dst) == "batch-7"
            and os.path.basename(os.path.dirname(dst)).startswith("gen-")
        ):
            raise PermissionError(errno.EACCES, "Permission denied", dst)
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", rename_with_race)
    if rescue == "moved":
        assert compact_batches(spark, path) == 2
        monkeypatch.setattr(os, "rename", real_rename)
        # replay is suppressed by the rescued directory's presence
        assert os.path.isdir(os.path.join(collector_root(path), "batch-7"))
    else:
        with pytest.raises(RuntimeError, match="could not be rescued"):
            compact_batches(spark, path)
        monkeypatch.setattr(os, "rename", real_rename)
        # the only committed copy stays in the superseded v1 root
        assert os.path.isdir(os.path.join(path, "batch-7"))
        assert not os.path.exists(
            os.path.join(collector_root(path), "batch-7")
        )
        # the next fold rescues it first, then folds it (replay is then
        # suppressed by the floor)
        assert compact_batches(spark, path) == 2
        assert not os.path.exists(os.path.join(path, "batch-7"))
    assert state["fired"]
    # the late batch survived the fold: its counts are readable from the
    # live generation, and its replay adds nothing
    before = _sketch(spark, path)
    landed = _values(spark, 0, 40).union(late)
    assert before == _bins(hist_sketch(landed, "v", _BINS, _LO, _HI))
    hook(late, 7)  # replay: no-op (no double count)
    assert _sketch(spark, path) == before


def test_compact_tolerates_foreign_batch_names(spark, tmp_path):
    """An operator-created batch-backup dir must neither crash the fold
    (which would fail every scheduled fold) nor be folded, read or
    deleted."""
    from paas_auditor_spark.operators.atomic import compact_batches

    path = str(tmp_path / "hist")
    hook = _hist_hook(path)
    for i in range(3):
        hook(_values(spark, i * 10, (i + 1) * 10), i)
    os.makedirs(os.path.join(path, "batch-backup"))
    with open(os.path.join(path, "batch-backup", "note.txt"), "w") as fh:
        fh.write("operator data")
    assert compact_batches(spark, path) == 3
    # dataset still reads fine after the fold, and the foreign dir stays
    assert _sketch(spark, path) == _one_shot(spark, 0, 30)
    assert os.path.isfile(os.path.join(path, "batch-backup", "note.txt"))


@pytest.mark.parametrize(
    "crash_point", ["gen_renamed_no_flip", "flipped_no_cleanup"]
)
def test_restart_after_kill_during_fold(
    spark, tmp_path, monkeypatch, crash_point
):
    """A kill IN THE MIDDLE of a ``compact_batches`` fold, at both kill
    windows a real SIGKILL can hit — (a) after the new generation dir is
    renamed into place but before the CURRENT pointer flips (readers
    must keep resolving the OLD generation; the orphan gen must not
    wedge later folds), and (b) after the flip but before the post-flip
    rescue/cleanup sweep (readers resolve the NEW generation; stale v1
    batch dirs must not be double-counted).  After restart: reads equal
    a one-shot sketch, the next fold succeeds and reclaims whatever the
    kill left on disk, and pre-kill batch ids stay replay-suppressed."""
    from paas_auditor_spark.operators import atomic

    path = str(tmp_path / "hist")

    def sketch():
        return _sketch(spark, path)

    hook = _hist_hook(path)
    for i in range(3):
        hook(_values(spark, i * 40, (i + 1) * 40), i)

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
        atomic.compact_batches(spark, path)
    monkeypatch.undo()

    if crash_point == "gen_renamed_no_flip":
        # pointer never flipped: readers resolve the pre-fold layout and
        # the orphaned generation is invisible
        assert not os.path.exists(os.path.join(path, atomic._CURRENT))
        assert os.path.isdir(os.path.join(path, "gen-0"))
    else:
        assert atomic.collector_root(path).endswith("gen-0")
    assert sketch() == _one_shot(spark, 0, 120)  # reads correct immediately

    # restart: same disk, fresh process state
    hook = _hist_hook(path)
    assert sketch() == _one_shot(spark, 0, 120)

    # pre-kill ids stay replay-suppressed across the kill + restart: by
    # the fold's floor in the flipped case (it landed with the flip), by
    # the still-present batch dir in the no-flip case — either way the
    # counts are unchanged
    hook(_values(spark, 0, 40), 0)
    assert sketch() == _one_shot(spark, 0, 120)

    # accumulate three delta batches again; the next fold must succeed,
    # reclaiming whatever the kill left behind.  Once
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
        hook(_values(spark, next_id * 40, (next_id + 1) * 40), next_id)
        next_id += 1
    assert atomic.compact_batches(spark, path) >= 3
    hi = next_id * 40
    assert sketch() == _one_shot(spark, 0, hi)
    assert os.path.exists(os.path.join(path, atomic._CURRENT))
    # no orphaned generation, superseded generation or stale v1 batch
    # dir is left: only the live generation and its pointer
    live = os.path.basename(atomic.collector_root(path))
    leftovers = [
        d
        for d in os.listdir(path)
        if d not in (live, atomic._CURRENT) and not d.startswith(".CURRENT")
    ]
    assert leftovers == []

    # replay of a folded id is suppressed by the new floor
    hook(_values(spark, 0, 40), 1)
    assert sketch() == _one_shot(spark, 0, hi)
