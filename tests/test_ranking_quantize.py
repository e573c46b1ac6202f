"""Unit tests for BM25 ranking and int8 scalar quantization operators
(the oracle-parity test covers end-to-end hash equality; these pin the
operator semantics on hand-checkable fixtures)."""

from __future__ import annotations

import math

import pytest

from paas_auditor_spark.operators.quantize import (
    quantize,
    reconstruction_report,
)
from paas_auditor_spark.operators.ranking import bm25_scores


@pytest.fixture()
def tiny_docs(spark):
    return spark.createDataFrame(
        [
            (1, "table table table scan"),
            (2, "table scan merge"),
            (3, "hash hash join join join join"),
            (4, "sort only terms here nothing else at all"),
        ],
        ["doc_id", "text"],
    )


def test_bm25_hand_computed(spark, tiny_docs):
    got = {
        r["doc_id"]: r["score"]
        for r in bm25_scores(tiny_docs, ["table"]).collect()
    }
    # N=4 docs, df(table)=2, avgdl=(4+3+6+8)/4=5.25
    idf = math.log(1 + (4 - 2 + 0.5) / (2 + 0.5))
    def s(tf, dl):
        return idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 5.25))
    assert got.keys() == {1, 2}
    assert got[1] == pytest.approx(s(3, 4))
    assert got[2] == pytest.approx(s(1, 3))
    # saturation: tf=3 scores higher, but less than 3x the tf=1 score
    assert got[1] > got[2] and got[1] < 3 * got[2]


def test_bm25_null_text_counts_toward_n(spark, tiny_docs):
    """ADVICE r04: N must be count(*) over the corpus — a NULL-text row is
    dropped by the explode (so it never matches and never shifts avgdl)
    but still raises N, exactly like the oracle's count(*) FROM documents."""
    with_null = tiny_docs.unionByName(
        spark.createDataFrame([(9, None)], "doc_id long, text string")
    )
    idf5 = math.log(1 + (5 - 2 + 0.5) / (2 + 0.5))  # N=5 now, df(table)=2
    def s(tf, dl):
        return idf5 * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 5.25))
    got = {
        r["doc_id"]: r["score"]
        for r in bm25_scores(with_null, ["table"]).collect()
    }
    assert got.keys() == {1, 2}  # the NULL doc itself never matches
    assert got[1] == pytest.approx(s(3, 4))
    assert got[2] == pytest.approx(s(1, 3))


def test_bm25_multi_term_is_sum(spark, tiny_docs):
    both = {
        r["doc_id"]: r["score"]
        for r in bm25_scores(tiny_docs, ["table", "hash"]).collect()
    }
    # doc 3 matches only 'hash', docs 1-2 only 'table'; all present
    assert both.keys() == {1, 2, 3}


def test_sq8_codes_bounded_and_roundtrip(spark):
    df = spark.createDataFrame(
        [
            (1, "a", [1.0, -0.5, 0.25, 0.003]),
            (2, "a", [0.0, 0.0, 0.0, 0.0]),  # zero vector must stay finite
            (3, "b", [100.0, -100.0, 50.0, 0.0]),
        ],
        ["vec_id", "label", "embedding"],
    )
    rows = quantize(df).collect()
    for r in rows:
        assert all(-127 <= c <= 127 for c in r["sq_codes"])
        recon = [c * r["sq_scale"] for c in r["sq_codes"]]
        for orig, rec in zip(r["embedding"], recon):
            # max quantization error is scale/2 per component
            assert abs(orig - rec) <= r["sq_scale"] / 2 + 1e-12
    rep = {
        r["label"]: r for r in reconstruction_report(df).collect()
    }
    assert rep["a"]["n_vectors"] == 2 and rep["b"]["n_vectors"] == 1
    # unit-scale vectors reconstruct to cosine ~1
    assert rep["b"]["avg_cosine"] == pytest.approx(1.0, abs=1e-3)


def test_pq_exact_when_codebook_covers_subvectors(spark):
    from paas_auditor_spark.operators.quantize import pq_assign, pq_train

    # vectors assembled from 4 distinct subvectors per 2-dim subspace:
    # a k=4 codebook must reconstruct them exactly (err2 ~ 0)
    subs = [[1.0, 0.0], [0.0, 1.0], [2.0, 2.0], [-1.0, 3.0]]
    rows = [
        (i, "x", subs[i % 4] + subs[(i + 1) % 4])
        for i in range(16)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    books = pq_train(df, m=2, k=4, sample_n=16)
    out = pq_assign(df, books).collect()
    for r in out:
        assert len(r["pq_codes"]) == 2
        assert all(0 <= c < 4 for c in r["pq_codes"])
        assert r["pq_err2"] < 1e-18
    # same subvector input -> same code (codebook is a function)
    code_of = {}
    for r, (i, _, emb) in zip(sorted(out, key=lambda r: r["vec_id"]), rows):
        key = tuple(emb[:2])
        code_of.setdefault(key, r["pq_codes"][0])
        assert code_of[key] == r["pq_codes"][0]


def test_pq_error_shrinks_with_k(spark):
    import random

    from paas_auditor_spark.operators.quantize import pq_assign, pq_train

    rng = random.Random(3)
    rows = [
        (i, "x", [rng.uniform(-1, 1) for _ in range(8)]) for i in range(64)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])

    def total_err(k):
        books = pq_train(df, m=4, k=k, sample_n=64)
        return sum(r["pq_err2"] for r in pq_assign(df, books).collect())

    assert total_err(16) < total_err(2) < total_err(1)


def test_phrase_search_counts_overlapping_occurrences(spark):
    """'a a a a' contains 'a a' three times (positions 0,1,2) — the
    positional join must count sliding occurrences, not disjoint ones."""
    from paas_auditor_spark.operators.ranking import phrase_search

    docs = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b a b a"), (3, "b b b")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_matches"], r["first_pos"])
        for r in phrase_search(docs, ["a", "a"]).collect()
    }
    assert got == {1: (3, 0)}


def test_phrase_search_three_term_chain_and_case(spark):
    """A 3-term phrase chains two positional joins; matching is
    case-insensitive on both the corpus and the query phrase."""
    from paas_auditor_spark.operators.ranking import phrase_search

    docs = spark.createDataFrame(
        [
            (1, "the Quick brown fox"),
            (2, "quick brown dog quick brown fox"),
            (3, "brown quick fox"),  # right terms, wrong order
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_matches"], r["first_pos"])
        for r in phrase_search(docs, ["QUICK", "Brown", "fox"]).collect()
    }
    assert got == {1: (1, 1), 2: (1, 3)}


def test_phrase_search_absent_and_empty(spark):
    from paas_auditor_spark.operators.ranking import phrase_search
    import pytest

    docs = spark.createDataFrame([(1, "x y z")], "doc_id long, text string")
    assert phrase_search(docs, ["y", "x"]).count() == 0  # reversed order
    with pytest.raises(ValueError, match="at least one term"):
        phrase_search(docs, [])
    # single-term degenerates to term lookup with positions
    got = phrase_search(docs, ["y"]).collect()
    assert [(r["doc_id"], r["n_matches"], r["first_pos"]) for r in got] == [
        (1, 1, 1)
    ]


def test_postings_index_incremental_equals_batch(spark, tmp_path):
    """The inverted-index collector contract: two micro-batches + a
    replayed batch accumulate an index whose BM25 scores are
    value-identical to bm25_scores over the union corpus, and the probe
    terms prune the postings scan (pushed filter)."""
    from paas_auditor_spark.operators.ranking import (
        bm25_from_postings,
        postings_collector,
    )

    rows = [
        (1, "table table scan"),
        (2, "merge sort table"),
        (3, "hash join hash"),
        (4, None),  # token-less doc: counts toward N, not avgdl
        (5, "scan scan merge hash table"),
        (6, "window frame sort"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    want = {
        (r["doc_id"], round(r["score"], 6))
        for r in bm25_scores(docs, ["table", "hash"]).collect()
    }
    path = str(tmp_path / "idx")
    hook = postings_collector(path)
    hook(docs.filter("doc_id <= 3"), 0)
    hook(docs.filter("doc_id > 3"), 1)
    hook(docs.filter("doc_id > 990"), 1)  # replay: must be a no-op
    scored = bm25_from_postings(spark, path, ["table", "hash"])
    got = {(r["doc_id"], round(r["score"], 6)) for r in scored.collect()}
    assert got == want
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "IN (table,hash)" in plan  # index-pruned probe scan


def test_bm25_tombstones_rescore_and_fold(spark, tmp_path):
    """Deletion support for the persisted index family (takedowns /
    opt-outs): tombstoned doc ids are anti-joined out of BOTH index
    relations before any statistic, so scores are value-identical to an
    index that never held the documents — N, avgdl, df, tf all shift,
    not just the result rows.  Replays of tombstone batches stay
    no-ops."""
    from paas_auditor_spark.operators.atomic import tombstones_collector
    from paas_auditor_spark.operators.ranking import (
        bm25_from_postings,
        postings_collector,
    )

    rows = [
        (1, "table table scan"),
        (2, "merge sort table"),
        (3, "hash join hash"),
        (4, None),  # token-less doc: counts toward N, not avgdl
        (5, "scan scan merge hash table"),
        (6, "window frame sort"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "idx")
    tomb = str(tmp_path / "tomb")
    hook = postings_collector(path)
    hook(docs.filter("doc_id <= 3"), 0)
    hook(docs.filter("doc_id > 3"), 1)

    def scores(**kw):
        return {
            (r["doc_id"], round(r["score"], 6))
            for r in bm25_from_postings(
                spark, path, ["table", "hash"], **kw
            ).collect()
        }

    def want(surviving):
        return {
            (r["doc_id"], round(r["score"], 6))
            for r in bm25_scores(surviving, ["table", "hash"]).collect()
        }

    # an empty/absent tombstone dataset is the branch-free common path
    assert scores(tombstone_path=tomb) == want(docs)

    # delete doc 5 (a matching doc: tf/df/N/avgdl all change) and doc 4
    # (the token-less doc: N changes) — plus a never-indexed id (noise)
    thook = tombstones_collector(tomb)
    thook(spark.createDataFrame([(5,), (4,)], "doc_id long"), 0)
    thook(spark.createDataFrame([(999,)], "doc_id long"), 1)
    thook(spark.createDataFrame([(1,)], "doc_id long"), 1)  # replay: no-op
    survivors = docs.filter("doc_id not in (4, 5)")
    after = scores(tombstone_path=tomb)
    assert after == want(survivors)
    assert after != want(docs)  # the deletion actually moved statistics
    # without the tombstone path the deleted rows still score (nothing
    # was rewritten yet)
    assert scores() == want(docs)


def test_postings_collector_under_real_stream(spark, tmp_path):
    """postings_collector as an actual Structured Streaming sink: a
    document stream lands batch-by-batch (maxFilesPerTrigger=1) through
    foreachBatch, and after each wave the accumulated index scores
    exactly like a batch rebuild over everything landed so far —
    continuous ingest keeps the corpus searchable with no re-tokenize
    of landed documents."""
    import os

    from paas_auditor_spark.operators.ranking import (
        bm25_from_postings,
        postings_collector,
    )

    src = str(tmp_path / "src")
    idx = str(tmp_path / "idx")
    os.makedirs(src)

    wave1 = [(1, "table scan table"), (2, "merge hash"), (3, "sort join")]
    wave2 = [(4, "table merge merge"), (5, "hash hash table scan")]
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    mk(wave1).coalesce(1).write.mode("append").parquet(src)

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

    def scores(df_docs):
        return {
            (r["doc_id"], round(r["score"], 6))
            for r in bm25_scores(df_docs, ["table", "hash"]).collect()
        }

    def index_scores():
        return {
            (r["doc_id"], round(r["score"], 6))
            for r in bm25_from_postings(
                spark, idx, ["table", "hash"]
            ).collect()
        }

    run_stream()
    assert index_scores() == scores(mk(wave1))
    mk(wave2).coalesce(1).write.mode("append").parquet(src)
    run_stream()  # restart from checkpoint: only the new file lands
    assert index_scores() == scores(mk(wave1 + wave2))
