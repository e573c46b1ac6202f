"""Bloom filter guarantees (operators/bloom.py).

The load-bearing properties, each pinned independently of the DuckDB
oracle (which checks end-to-end equality but can't distinguish "both
sides wrong the same way"):

- NO false negatives — every inserted key probes True, always (the
  property decontamination correctness rests on).
- Bounded false positives — disjoint keys probe True at ≈ the closed
  form (1 − e^(−kn/m))^k, not 100× it.
- The packed word/bit representation equals plain position-set
  membership (the packing is representation, not semantics).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from paas_auditor_spark.operators.bloom import (
    bloom_bit_pos,
    bloom_blob_from_words,
    bloom_contains,
    bloom_literal,
    bloom_words,
)

from bloom_reference import bloom_assemble, bloom_bitmap

M, K = 1 << 14, 4


def _keys(spark, lo, hi, prefix="key"):
    return spark.range(lo, hi).select(
        F.concat(F.lit(prefix), F.col("id").cast("string")).alias("k")
    )


def _blob(spark, literal):
    """The bytes of a probe literal column."""
    return bytes(spark.range(1).select(literal.alias("b")).collect()[0]["b"])


def test_no_false_negatives(spark):
    members = _keys(spark, 0, 2000)
    bitmap = bloom_literal(members, "k", m=M, k=K)
    probed = members.where(~bloom_contains(F.col("k"), bitmap, m=M, k=K))
    assert probed.count() == 0


def test_false_positive_rate_bounded(spark):
    import math

    n = 2000
    members = _keys(spark, 0, n)
    bitmap = bloom_literal(members, "k", m=M, k=K)
    outsiders = _keys(spark, 0, 10000, prefix="other")
    fp = outsiders.where(bloom_contains(F.col("k"), bitmap, m=M, k=K)).count()
    expected = (1 - math.exp(-K * n / M)) ** K  # ≈ 0.048 at these params
    # generous ceiling: 3× the closed form catches a broken hash family
    # (which degrades to orders of magnitude more FPs) without flaking
    assert fp / 10000 <= 3 * expected


def test_packing_equals_position_set(spark):
    """Unpacking the binary blob == membership of every bloom_bit_pos in
    the distinct position set — exercises word boundaries, the
    little-endian byte order, and bit 63."""
    members = _keys(spark, 0, 500)
    blob = _blob(spark, bloom_literal(members, "k", m=M, k=K))
    assert len(blob) == M // 8
    positions = {
        r["p"]
        for j in range(K)
        for r in members.select(
            bloom_bit_pos(F.col("k"), j, M).alias("p")
        ).collect()
    }
    unpacked = {
        i * 8 + b
        for i, byte in enumerate(blob)
        for b in range(8)
        if (byte >> b) & 1
    }
    assert unpacked == positions


def test_bit63_round_trip(spark):
    """A hand-planted position on bit 63 of a word must probe back True
    (sign-bit regression guard for the pack/probe pair)."""
    # find a key whose j=0 position lands on bit 63 of some word
    cand = (
        spark.range(0, 5000)
        .select(F.concat(F.lit("z"), F.col("id").cast("string")).alias("k"))
        .where(bloom_bit_pos(F.col("k"), 0, M) % 64 == 63)
        .limit(1)
    )
    assert cand.count() == 1
    bitmap = bloom_literal(cand, "k", m=M, k=K)
    hit = cand.where(bloom_contains(F.col("k"), bitmap, m=M, k=K)).count()
    assert hit == 1


def test_m_must_be_word_aligned(spark):
    with pytest.raises(ValueError, match="multiple of 64"):
        bloom_literal(_keys(spark, 0, 1), "k", m=100, k=2)


def test_empty_reference_set_flags_nothing(spark):
    """An empty benchmark builds an all-zero bitmap; every probe is
    False (the decontamination gate passes everything through)."""
    empty = _keys(spark, 0, 0)
    bitmap = bloom_literal(empty, "k", m=M, k=K)
    assert _blob(spark, bitmap) == bytes(M // 8)
    probes = _keys(spark, 0, 100)
    hits = probes.where(bloom_contains(F.col("k"), bitmap, m=M, k=K)).count()
    assert hits == 0


def test_streaming_bloom_gate_matches_batch(spark, tmp_path):
    """The literal probe is stateless, so the SAME bloom_contains column
    works unchanged in Structured Streaming — decontaminating an
    unbounded document stream against a static benchmark filter with no
    state store, no stream-static join, no watermark.  Stream result ==
    batch result on identical input."""
    src = str(tmp_path / "docs")
    rows = [(i, f"text piece {i % 7}") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, body string")
    df.coalesce(2).write.mode("overwrite").parquet(src)

    from paas_auditor_spark.operators.bloom import bloom_contains, bloom_literal

    bench = spark.createDataFrame(
        [("text piece 1",), ("text piece 4",)], "body string"
    )
    lit = bloom_literal(bench, "body", m=M, k=K)
    gate = ~bloom_contains(F.col("body"), lit, m=M, k=K)

    stream = spark.readStream.schema("doc_id long, body string").parquet(src)
    q = (
        stream.where(gate)
        .writeStream.format("memory")
        .queryName("bloom_gate")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["doc_id"] for r in spark.sql("SELECT doc_id FROM bloom_gate").collect()
    }
    want = {
        r["doc_id"]
        for r in spark.read.parquet(src).where(gate).select("doc_id").collect()
    }
    assert got == want
    # no false negatives: every doc matching a benchmark body is gone
    assert all(i % 7 not in (1, 4) for i in got)


def test_null_keys_dropped_on_build_and_probe(spark):
    """NULL keys contribute no positions (SQL set semantics: the oracle's
    ``g || '#' || j`` is NULL for NULL g) and never probe True — without
    the guards, concat_ws skips the null arg and hashes the bare salt,
    an engine-specific nonsense answer."""
    rows = [("a",), (None,), ("b",)]
    df = spark.createDataFrame(rows, "k string")
    with_nulls = _blob(spark, bloom_literal(df, "k", m=M, k=K))
    without = _blob(
        spark, bloom_literal(df.where(F.col("k").isNotNull()), "k", m=M, k=K)
    )
    assert with_nulls == without
    lit = F.lit(with_nulls)
    got = df.select(
        "k", bloom_contains(F.col("k"), lit, m=M, k=K).alias("hit")
    ).collect()
    assert {r["k"]: r["hit"] for r in got} == {"a": True, None: False, "b": True}


def test_assemble_reads_geometry_from_words(spark):
    """A persisted words table is self-describing: packing it with no m
    argument reconstructs the same blob as the build from keys."""
    ks = _keys(spark, 0, 123)
    via_words = _blob(spark, bloom_blob_from_words(bloom_words(ks, "k", m=M, k=K)))
    direct = _blob(spark, bloom_literal(ks, "k", m=M, k=K))
    assert via_words == direct


def test_blob_from_words_bit_equal_to_assemble(spark, tmp_path):
    """The driver-side packer (bloom_blob_from_words — the probe-only
    hot path, zero shuffles) must render byte-identical bits to the
    relational bloom_assemble, including duplicate w rows from per-batch
    parquet appends and bit 63."""
    p = str(tmp_path / "words")
    bloom_words(_keys(spark, 0, 300), "k", m=M, k=K).write.parquet(p)
    bloom_words(_keys(spark, 200, 600), "k", m=M, k=K).write.mode(
        "append"
    ).parquet(p)
    words = spark.read.parquet(p)
    via_assemble = bytes(bloom_assemble(words).collect()[0]["bloom"])
    lit_col = bloom_blob_from_words(words, m=M, k=K)
    via_packer = bytes(
        spark.range(1).select(lit_col.alias("b")).collect()[0]["b"]
    )
    assert via_packer == via_assemble


def test_blob_from_words_validates_geometry(spark):
    from paas_auditor_spark.operators.bloom import (
        bloom_blob_from_words,
        bloom_words,
    )

    words = bloom_words(_keys(spark, 0, 10), "k", m=M // 2, k=K)
    with pytest.raises(ValueError, match="different m"):
        bloom_blob_from_words(words, m=M)
    with pytest.raises(ValueError, match="k="):
        bloom_blob_from_words(words, m=M // 2, k=K + 1)


def test_streaming_gate_composes_with_sessionization(spark, tmp_path):
    """The full curation-ingest composition: an unbounded MESSAGE stream
    is gated in-stream by the incrementally-maintained bloom filter
    (each benchmark drop appends its own bloom_words relation to a
    parquet words table; each message micro-batch packs the CURRENT
    words table with bloom_blob_from_words — zero shuffles), and the
    landed clean table sessionizes with
    session_window.  Asserts: the contaminated message never lands, a
    benchmark drop BETWEEN message batches changes only later batches'
    gating, and the surviving messages fold into the right sessions."""
    import datetime as dt
    import os

    msg_src = str(tmp_path / "msg_src")
    words_path = str(tmp_path / "words")
    clean_path = str(tmp_path / "clean")
    os.makedirs(msg_src)

    def drop_bench(body: str) -> None:
        bloom_words(
            spark.createDataFrame([(body,)], "body string"), "body", m=M, k=K
        ).write.mode("append").parquet(words_path)

    # benchmark drop, day 1: "bad seed" is contaminated
    drop_bench("bad seed")

    def gate_batch(batch_df, batch_id):
        words = batch_df.sparkSession.read.parquet(words_path)
        blob = bloom_blob_from_words(words, m=M, k=K)
        batch_df.where(
            ~bloom_contains(F.col("text"), blob, m=M, k=K)
        ).write.mode("append").parquet(clean_path)

    base = dt.datetime(2026, 3, 1, 12, 0, 0)

    def drop_msgs(rows):
        spark.createDataFrame(
            rows, "user_id long, ts timestamp, text string"
        ).coalesce(1).write.mode("append").parquet(msg_src)

    # message batch 1: one contaminated, two clean in one session,
    # one clean 2h later (second session)
    drop_msgs(
        [
            (1, base, "hello there"),
            (1, base + dt.timedelta(minutes=10), "how are you"),
            (1, base + dt.timedelta(hours=2), "new session msg"),
            (2, base, "bad seed"),
        ]
    )
    # the gate reads the words table at batch time, so the filter must
    # exist before any message is gated (in production the words table
    # is seeded at deploy; here day 1's drop plays that role)
    mq = (
        spark.readStream.schema("user_id long, ts timestamp, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(msg_src)
        .writeStream.foreachBatch(gate_batch)
        .option("checkpointLocation", str(tmp_path / "mq_ckpt"))
        .start()
    )
    try:
        mq.processAllAvailable()
        # day-2 benchmark drop lands BETWEEN message batches
        drop_bench("spoiler text")
        # message batch 2: the newly-benchmarked text must now be gated
        drop_msgs(
            [
                (1, base + dt.timedelta(hours=2, minutes=5), "spoiler text"),
                (2, base + dt.timedelta(hours=3), "clean follow up"),
            ]
        )
        mq.processAllAvailable()
    finally:
        mq.stop()

    clean = spark.read.parquet(clean_path)
    texts = {r["text"] for r in clean.collect()}
    assert "bad seed" not in texts and "spoiler text" not in texts
    assert texts == {"hello there", "how are you", "new session msg",
                     "clean follow up"}
    sessions = (
        clean.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n_msgs"))
        .collect()
    )
    per_user = {}
    for r in sessions:
        per_user.setdefault(r["user_id"], []).append(r["n_msgs"])
    # user 1: one 2-message session + one 1-message session; user 2's
    # only surviving message is its own session
    assert sorted(per_user[1]) == [1, 2]
    assert per_user[2] == [1]


def test_scheme_column_rejects_legacy_and_foreign_tables(spark):
    """Geometry alone can't catch a words table built under a DIFFERENT
    bit-position formula (same m/k, misaligned bits → silent false
    negatives), so every validator must reject (a) a legacy table with
    no scheme column and (b) a table stamped with a foreign scheme."""
    words = bloom_words(_keys(spark, 0, 50), "k", m=M, k=K)
    legacy = words.drop("scheme")
    foreign = words.withColumn("scheme", F.lit("salted-md5-v0"))
    for bad, pat in ((legacy, "no scheme column"), (foreign, "scheme")):
        with pytest.raises(ValueError, match=pat):
            bloom_blob_from_words(bad, m=M, k=K)
    # a foreign batch appended to a valid table poisons the whole table
    with pytest.raises(ValueError, match="scheme"):
        bloom_blob_from_words(words.unionByName(foreign), m=M, k=K)
    # and the happy path still round-trips
    assert len(_blob(spark, bloom_blob_from_words(words, m=M, k=K))) == M // 8


def test_bloom_prune_superset_then_join_exact(spark):
    """bloom_prune admits EVERY true match (zero false negatives — the
    Bloom guarantee) plus only a small FP fraction, and composing it
    with the exact join reproduces the plain join bit-for-bit — the
    contract that lets bloom_pruned_join carry a plain-join oracle."""
    from paas_auditor_spark.operators.bloom import bloom_prune

    fact = spark.createDataFrame(
        [(i, i % 100, float(i)) for i in range(5000)],
        "row_id long, key long, v double",
    )
    dim = spark.createDataFrame(
        [(j, f"dim-{j}") for j in (3, 17, 42)], "key long, payload string"
    )
    pruned = bloom_prune(fact, "key", dim.select("key"), "key", m=1 << 12, k=4)

    exact = fact.join(dim.select("key"), "key")
    n_fact, n_exact, n_pruned = fact.count(), exact.count(), pruned.count()
    assert n_exact == 150  # 3 keys x 50 rows each
    # superset: every true match survives the prune
    assert pruned.join(exact.select("row_id"), "row_id").count() == n_exact
    # and it actually prunes: far fewer rows reach the join than the scan
    assert n_exact <= n_pruned < n_fact / 2

    via_bloom = sorted(
        (r["row_id"], r["payload"])
        for r in pruned.join(dim, "key").select("row_id", "payload").collect()
    )
    plain = sorted(
        (r["row_id"], r["payload"])
        for r in fact.join(dim, "key").select("row_id", "payload").collect()
    )
    assert via_bloom == plain


def test_bloom_prune_null_fact_keys_never_match(spark):
    from paas_auditor_spark.operators.bloom import bloom_prune

    fact = spark.createDataFrame(
        [(1, 7), (2, None), (3, 8)], "row_id long, key long"
    )
    dim = spark.createDataFrame([(7,), (8,)], "key long")
    got = {
        r["row_id"]
        for r in bloom_prune(fact, "key", dim, "key", m=1 << 10, k=3).collect()
    }
    assert got == {1, 3}


def test_xx1_scheme_roundtrip_and_cross_scheme_rejection(spark):
    """The JVM-native xx1 position scheme: a filter built AND probed
    under xx1 has zero false negatives (same Bloom guarantee, ~5x the
    probe throughput of md5 km1), and the scheme tag keeps the two
    worlds apart — an xx1 words table refuses a km1-expecting pack and
    vice versa, because identical geometry under the other formula
    probes misaligned bits."""
    from paas_auditor_spark.operators.bloom import (
        bloom_blob_from_words,
        bloom_contains,
        bloom_words,
    )

    keys = _keys(spark, 0, 200)
    words_xx = bloom_words(keys, "k", m=M, k=K, scheme="xx1")
    blob_xx = bloom_blob_from_words(words_xx, m=M, k=K, scheme="xx1")
    probe = _keys(spark, 0, 400)
    hits = {
        r["k"]
        for r in probe.where(
            bloom_contains(F.col("k"), blob_xx, m=M, k=K, scheme="xx1")
        ).collect()
    }
    assert {f"key{i}" for i in range(200)} <= hits  # zero false negatives
    assert len(hits) < 400  # and it actually filters

    words_km = bloom_words(keys, "k", m=M, k=K)  # default km1
    with pytest.raises(ValueError, match="scheme"):
        bloom_blob_from_words(words_km, m=M, k=K, scheme="xx1")
    with pytest.raises(ValueError, match="scheme"):
        bloom_blob_from_words(words_xx, m=M, k=K)  # km1 expectation


def test_bloom_prune_rejects_mismatched_key_types(spark):
    """Differently-typed keys can render (and hash) differently even
    where an equi-join would coerce and match — the prune must refuse
    rather than silently drop true matches."""
    from paas_auditor_spark.operators.bloom import bloom_prune

    fact = spark.createDataFrame([(1, 7.0)], "row_id long, key double")
    dim = spark.createDataFrame([(7,)], "key long")
    with pytest.raises(ValueError, match="key types differ"):
        bloom_prune(fact, "key", dim, "key", m=1 << 10, k=3)


def test_commit_batch_dir_contract(tmp_path, monkeypatch):
    """The shared collector commit protocol: replay skips without
    writing, a racer's completed commit is absorbed, and a genuine
    write failure RAISES (never a silently dropped batch) with the
    private tmp dir cleaned up."""
    import os

    from paas_auditor_spark.operators.atomic import commit_batch_dir

    path = str(tmp_path)

    def write_ok(tmp):
        os.makedirs(tmp)
        open(os.path.join(tmp, "part-0"), "w").write("x")

    assert commit_batch_dir(path, 0, write_ok) is True
    assert os.path.isfile(os.path.join(path, "batch-0", "part-0"))

    calls = []
    assert commit_batch_dir(path, 0, lambda t: calls.append(t)) is False
    assert calls == []  # replay: nothing written

    def write_boom(tmp):
        os.makedirs(tmp)
        raise OSError("disk full")

    with pytest.raises(OSError, match="disk full"):
        commit_batch_dir(path, 1, write_boom)
    assert not os.path.isdir(os.path.join(path, "batch-1"))
    # the private tmp was cleaned, no hidden dirs leak
    assert [d for d in os.listdir(path) if d.startswith(".batch-")] == []

    def write_then_racer_commits(tmp):
        os.makedirs(tmp)
        # simulate a racer publishing the identical (non-empty, as any
        # real parquet batch is) directory before our rename runs —
        # rename onto a non-empty dir fails ENOTEMPTY, and the protocol
        # must absorb it as a lost race, not an error
        os.makedirs(os.path.join(path, "batch-2"))
        open(os.path.join(path, "batch-2", "part-0"), "w").write("racer")

    assert commit_batch_dir(path, 2, write_then_racer_commits) is False
    assert os.path.isdir(os.path.join(path, "batch-2"))

    # a rename that fails for any other reason (no racer published the
    # batch) raises and leaves the batch uncommitted
    def no_rename(src, dst):
        raise OSError(95, "Operation not supported")

    monkeypatch.setattr(os, "rename", no_rename)
    with pytest.raises(OSError, match="not supported"):
        commit_batch_dir(path, 3, write_ok)
    monkeypatch.undo()
    assert not os.path.isdir(os.path.join(path, "batch-3"))


def test_bloom_sharded_is_batch_slice_of_persisted(spark, sf_dir):
    """bloom_decontaminate_sharded must equal the full persisted
    decontamination restricted to the ingest batch (same artifact, same
    verdicts), and its documents scan must push the batch range down to
    parquet (row-group pruning is what makes the per-batch shape
    flat-cost at any corpus size)."""
    from paas_auditor_spark.queries import (
        _INGEST_BATCH_PRED,
        q_bloom_decontaminate_persisted,
        q_bloom_decontaminate_sharded,
    )

    got = q_bloom_decontaminate_sharded(spark, sf_dir)
    want = q_bloom_decontaminate_persisted(spark, sf_dir).filter(
        F.expr(_INGEST_BATCH_PRED)
    )
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in want.collect()
    ]
    plan = got._jdf.queryExecution().toString()
    assert "GreaterThanOrEqual(doc_id,16)" in plan
    assert "LessThan(doc_id,272)" in plan


def test_literal_equals_relational_render(spark):
    """The driver-packed ``bloom_literal`` blob (sparse collect +
    Python pack, no densify union / one-row render shuffle) is
    BIT-EQUAL to the relational ``bloom_bitmap`` render for the same
    keys and geometry — the packing change is representation plumbing,
    not semantics.  Also pins the empty-keys case (all-zero blob of
    exactly m/8 bytes)."""
    from paas_auditor_spark.operators.bloom import bloom_literal

    keys = _keys(spark, 0, 500)
    lit_blob = spark.range(1).select(
        bloom_literal(keys, "k", m=M, k=K).alias("b")
    ).collect()[0]["b"]
    rel_blob = bloom_bitmap(keys, "k", m=M, k=K).collect()[0]["bloom"]
    assert bytes(lit_blob) == bytes(rel_blob)
    assert len(lit_blob) == M // 8

    empty = _keys(spark, 0, 0)
    empty_blob = spark.range(1).select(
        bloom_literal(empty, "k", m=M, k=K).alias("b")
    ).collect()[0]["b"]
    assert bytes(empty_blob) == b"\x00" * (M // 8)
