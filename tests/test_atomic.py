"""Commit protocols for streaming collectors (operators/atomic.py).

The rename variant's contract is pinned in test_bloom.py; this file pins
the OBJECT-STORE variant (commit_batch_dir_marker): same
whole-batches-or-nothing semantics on a filesystem with NO atomic rename
— replay skip, racer loss, torn-attempt invisibility, and end-to-end
equality with the rename protocol through the histogram collector —
plus the compaction fold both protocols share.
"""

from __future__ import annotations

import os

import pytest

from paas_auditor_spark.operators.atomic import (
    commit_batch_dir,
    commit_batch_dir_marker,
    committed_batch_dirs,
)

# histogram geometry of every collector dataset below: 16 bins over
# [0, 10000), so each value id lands in bin id // 625
_BINS, _LO, _HI = 16, 0.0, 10_000.0


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


def _values(spark, lo, hi):
    from pyspark.sql import functions as F

    return spark.range(lo, hi).select(F.col("id").cast("double").alias("v"))


def _hist_hook(path, protocol="rename"):
    from paas_auditor_spark.operators.quantiles import hist_collector

    return hist_collector("v", path, _BINS, _LO, _HI, protocol=protocol)


def _bins(sketch):
    """A merged sketch as its sorted non-empty (bin, count) pairs."""
    from paas_auditor_spark.operators.quantiles import hist_merge

    return sorted(
        (r["bin"], r["cnt"]) for r in hist_merge(sketch).collect() if r["cnt"]
    )


def _sketch(spark, path, protocol="rename"):
    """Every committed batch of a histogram collector dataset, merged.
    Counts ADD across batches, so a double-appended replay shows."""
    from paas_auditor_spark.operators.quantiles import hist_read

    return _bins(hist_read(spark, path, protocol=protocol))


def _one_shot(spark, lo, hi):
    """The sketch of values [lo, hi) built in one pass."""
    from paas_auditor_spark.operators.quantiles import hist_sketch

    return _bins(hist_sketch(_values(spark, lo, hi), "v", _BINS, _LO, _HI))


def test_collector_marker_equals_rename(spark, tmp_path):
    """End-to-end through the collectors: two batches + a replay under
    each protocol merge to the SAME sketch, and the replayed id adds
    nothing."""
    sketches = {}
    for protocol in ("rename", "marker"):
        path = str(tmp_path / protocol)
        hook = _hist_hook(path, protocol=protocol)
        hook(_values(spark, 0, 300), 0)
        hook(_values(spark, 200, 500), 1)
        hook(_values(spark, 999, 9999), 1)  # replayed id: must be a no-op
        sketches[protocol] = _sketch(spark, path, protocol=protocol)
    assert sketches["marker"] == sketches["rename"]
    assert sum(c for _, c in sketches["rename"]) == 600


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


def test_fold_rescues_batch_committed_during_fold(spark, tmp_path, monkeypatch):
    """r8 review: a raw hook publishing between a fold's directory
    listing and its pointer flip was silently lost (absent from the new
    generation, id above the floor so replays no-op, old generation
    deleted).  The post-flip rescue sweep must move it into the live
    generation.  Simulated by intercepting the fold's CURRENT rename:
    the racing commit publishes just before the flip and reports
    SUCCESS (its own pointer check still sees the old generation)."""
    from paas_auditor_spark.operators.atomic import compact_batches
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
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", rename_with_race)
    assert compact_batches(spark, path) == 2
    monkeypatch.setattr(os, "rename", real_rename)
    assert state["fired"]
    # the late batch survived the fold: its counts are readable from the
    # live generation and its replay is suppressed by directory presence
    from paas_auditor_spark.operators.atomic import collector_root

    assert os.path.isdir(os.path.join(collector_root(path), "batch-7"))
    before = _sketch(spark, path)
    landed = _values(spark, 0, 40).union(late)
    assert before == _bins(hist_sketch(landed, "v", _BINS, _LO, _HI))
    hook(late, 7)  # replay: directory exists → no-op (no double count)
    assert _sketch(spark, path) == before


def test_marker_rescue_migrates_past_racer_scaffolding(tmp_path):
    """r9 review (reproduced pre-fix): under the marker protocol an
    in-flight racer's makedirs-only batch dir in the live generation
    must NOT satisfy the self-rescue's 'already committed there' check —
    the committed attempt + marker must migrate in, or the only durable
    copy dies with its generation at the next fold."""

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
    # replay of the rescued id is a no-op
    assert commit_batch_dir_marker(path, 5, _write_file) is False


def test_compact_tolerates_foreign_batch_names(spark, tmp_path):
    """r9 review (reproduced pre-fix): compact_batches crashed with
    ValueError on an operator-created batch-backup dir, permanently
    failing every scheduled fold under both protocols."""
    from paas_auditor_spark.operators.atomic import compact_batches

    for protocol in ("rename", "marker"):
        path = str(tmp_path / protocol)
        hook = _hist_hook(path, protocol=protocol)
        for i in range(3):
            hook(_values(spark, i * 10, (i + 1) * 10), i)
        os.makedirs(os.path.join(path, "batch-backup"))
        with open(os.path.join(path, "batch-backup", "note.txt"), "w") as fh:
            fh.write("operator data")
        assert compact_batches(spark, path, protocol=protocol) == 3
        # dataset still reads fine after the fold
        assert _sketch(spark, path, protocol=protocol) == _one_shot(spark, 0, 30)


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
    a one-shot sketch, the next fold succeeds, and pre-kill batch ids
    stay replay-suppressed."""
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
        hook(_values(spark, next_id * 40, (next_id + 1) * 40), next_id)
        next_id += 1
    assert atomic.compact_batches(spark, path) >= 3
    hi = next_id * 40
    assert sketch() == _one_shot(spark, 0, hi)
    assert os.path.exists(os.path.join(path, atomic._CURRENT))

    # replay of a folded id is suppressed by the new floor
    hook(_values(spark, 0, 40), 1)
    assert sketch() == _one_shot(spark, 0, hi)
