"""Similarity-search correctness on constructed vectors."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from paas_auditor_spark.operators import similarity

DIM = 64


def _vec(direction: int, scale: float = 1.0) -> list[float]:
    v = [0.0] * DIM
    v[direction] = scale
    v[(direction + 1) % DIM] = 0.1 * scale
    return v


@pytest.fixture(scope="module")
def emb_df(spark):
    rows = [
        (0, _vec(0)),
        (1, _vec(0, 2.0)),   # same direction as 0 → cosine 1.0
        (2, _vec(5)),        # orthogonal-ish
        (3, [1.0 / math.sqrt(DIM)] * DIM),  # diffuse
    ]
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    return spark.createDataFrame(rows, schema)


def test_bruteforce_exact_neighbors(emb_df):
    out = similarity.brute_force_topk(
        emb_df, emb_df.filter(F.col("vec_id") == 0), k=3
    ).collect()
    assert [r["neighbor_id"] for r in out] == [1, 3, 2][: len(out)]
    assert out[0]["cos_sim"] == 1.0  # scale-invariant cosine
    assert all(out[i]["cos_sim"] >= out[i + 1]["cos_sim"] for i in range(len(out) - 1))


def test_lsh_buckets_group_same_direction(emb_df):
    out = similarity.lsh_topk(
        emb_df, emb_df.filter(F.col("vec_id") == 0), k=3, n_planes=2
    ).collect()
    # with coarse buckets the identical-direction vector must be found
    assert any(r["neighbor_id"] == 1 and r["cos_sim"] == 1.0 for r in out)


def test_embedding_near_dup_exact(emb_df):
    out = similarity.embedding_near_duplicates(emb_df, threshold=0.95).collect()
    assert [(r["id_a"], r["id_b"]) for r in out] == [(0, 1)]
    assert out[0]["cos_sim"] == 1.0


def test_embedding_near_dup_lsh_finds_identical_direction(emb_df):
    # identical-direction vectors land in the same bucket for ANY hyperplane
    # set (sign pattern depends only on direction), so recall on cosine-1.0
    # pairs is exact
    out = similarity.embedding_near_duplicates_lsh(
        emb_df, threshold=0.95, n_planes=4
    ).collect()
    assert (0, 1) in [(r["id_a"], r["id_b"]) for r in out]


def test_ivf_topk_matches_bruteforce_on_probed_lists(emb_df):
    # with n_centroids=2 and nprobe=2 every list is probed → IVF == exact
    queries = emb_df.filter(F.col("vec_id") == 0)
    exact = similarity.brute_force_topk(emb_df, queries, k=3).collect()
    approx = similarity.ivf_topk(
        emb_df, queries, k=3, n_centroids=2, nprobe=2
    ).collect()
    assert [r["neighbor_id"] for r in approx] == [r["neighbor_id"] for r in exact]


def test_dot_and_norm(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0, 2.0], [2.0, 0.0, 1.0])], ["a", "b"]
    )
    row = df.select(
        similarity.dot(F.col("a"), F.col("b")).alias("d"),
        similarity.l2_norm(F.col("a")).alias("n"),
    ).first()
    assert row["d"] == 4.0
    assert row["n"] == 3.0


def test_kmeans_separates_constructed_clusters(spark):
    """Two well-separated blobs in 4-d: k-means with k=2 must put each blob
    in one cluster and converge to near-zero within-cluster distance for
    the tight blob."""
    from paas_auditor_spark.operators.similarity import kmeans_assign

    rows = []
    for i in range(10):  # blob A around (0,0,0,0)
        rows.append((i, [0.0 + 0.01 * i, 0.0, 0.0, 0.0]))
    for i in range(10):  # blob B around (10,10,10,10)
        rows.append((100 + i, [10.0 + 0.01 * i, 10.0, 10.0, 10.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = kmeans_assign(df, k=2, max_iter=4).collect()
    by_id = {r["vec_id"]: r["cluster_id"] for r in got}
    a_clusters = {by_id[i] for i in range(10)}
    b_clusters = {by_id[100 + i] for i in range(10)}
    assert len(a_clusters) == 1 and len(b_clusters) == 1
    assert a_clusters != b_clusters
    # within-blob distance is tiny, cross-blob assignment would be ~400
    assert all(r["dist2"] < 1.0 for r in got)


def test_plane_coeffs_not_degenerate():
    """Each plane's coefficients must come from ONE advancing RNG — a
    per-coefficient re-seed makes every plane a constant multiple of the
    all-ones vector, collapsing all sign tests to sign(sum(v))."""
    p0 = similarity._plane_coeffs(0)
    p1 = similarity._plane_coeffs(1)
    assert len(set(p0)) > 1  # not constant within a plane
    assert p0 != p1  # distinct planes
    # deterministic across calls
    assert p0 == similarity._plane_coeffs(0)


def test_lsh_numpy_buckets_agree_with_expression_path(emb_df):
    """The vectorized numpy bucket keys (one per table) must equal the
    expression-path hyperplane_bucket with the matching plane_offset."""
    n_planes, n_tables = 4, 3
    udf = similarity.lsh_bucket_keys_udf(n_planes, n_tables)
    base = emb_df.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    got = {
        r["vec_id"]: r["keys"]
        for r in base.select("vec_id", udf(F.col("v")).alias("keys")).collect()
    }
    for t in range(n_tables):
        expected = {
            r["vec_id"]: r["b"]
            for r in base.select(
                "vec_id",
                similarity.hyperplane_bucket(
                    F.col("v"), n_planes, DIM, plane_offset=t * n_planes
                ).alias("b"),
            ).collect()
        }
        for vid, keys in got.items():
            assert keys[t] == (t << n_planes) + expected[vid], (
                f"table {t} vec {vid}: numpy {keys[t]} vs expr "
                f"{(t << n_planes) + expected[vid]}"
            )


def test_embedding_lsh_recall_floor(spark, sf_dir):
    """Multi-table OR-amplification must keep recall vs the exact pair set
    above 60% at threshold 0.4 (a single 4-plane table sits at ~16%) and
    100% of what it returns must be true positives (exact verify step)."""
    from pyspark.sql import functions as F

    from paas_auditor_spark.operators import similarity
    from paas_auditor_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_near_duplicates(emb, threshold=0.4).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_near_duplicates_lsh(
            emb, threshold=0.4
        ).collect()
    }
    assert exact  # ground truth must be non-trivial
    assert len(lsh & exact) / len(exact) >= 0.6
    assert lsh <= exact  # verify step guarantees precision 1.0


def test_embedding_lsh_bucket_verify_never_collects(spark, sf_dir, monkeypatch):
    """The default (bucket) verify must not touch the driver: no
    DataFrame.collect anywhere in plan construction OR execution — the
    corpus is verified per-bucket on executors (VERDICT r04 item 1)."""
    from pyspark.sql import DataFrame as SparkDataFrame

    from paas_auditor_spark.operators import similarity
    from paas_auditor_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")

    def _banned(self, *a, **k):  # pragma: no cover - only on failure
        raise AssertionError("driver-side collect() in default LSH verify")

    monkeypatch.setattr(SparkDataFrame, "collect", _banned)
    out = similarity.embedding_near_duplicates_lsh(emb, threshold=0.4)
    n = out.count()  # full execution without any collect
    assert n > 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    # verification runs as grouped-map over buckets, not a broadcast or
    # candidate-pair join
    assert "FlatMapGroupsInPandas" in plan


def test_embedding_lsh_verify_modes_agree(spark, sf_dir):
    """bucket / broadcast / join verifies are the same operator with
    different data movement — identical pair sets and rounded scores."""
    from paas_auditor_spark.operators import similarity
    from paas_auditor_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    results = {
        mode: {
            (r["id_a"], r["id_b"], r["cos_sim"])
            for r in similarity.embedding_near_duplicates_lsh(
                emb, threshold=0.4, verify=mode
            ).collect()
        }
        for mode in ("bucket", "broadcast", "join")
    }
    assert results["bucket"] == results["broadcast"] == results["join"]
    assert results["bucket"]


def test_ivf_lists_partition_prune_on_probe(spark, sf_dir, tmp_path):
    """The IVF scale story made concrete: corpus written partitioned by
    list_id, a probe filtered to nprobe lists must scan ONLY those
    partitions (PartitionFilters at the scan, fewer files touched)."""
    import pyspark.sql.functions as F

    from paas_auditor_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    # coarse-quantize: 8 lists by a cheap deterministic key so the test
    # exercises the layout, not the quantizer
    corpus = emb.withColumn("list_id", (F.col("vec_id") % 8).cast("int"))
    path = str(tmp_path / "ivf_corpus")
    corpus.write.partitionBy("list_id").mode("overwrite").parquet(path)

    back = spark.read.parquet(path)
    probe = back.filter(F.col("list_id").isin(2, 5))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    # the probe predicate is a PARTITION filter (directory pruning), not a
    # data filter over a full scan
    assert pf and "list_id" in pf[0] and "IN (2,5)" in pf[0].replace(", ", ",")
    # and the scan feeding the probe reads exactly the two lists' rows
    expected = back.filter(F.col("vec_id") % 8 == 2).count() + \
        back.filter(F.col("vec_id") % 8 == 5).count()
    assert probe.count() == expected > 0


def test_ivf_persisted_equals_in_memory_and_prunes(spark, sf_dir, tmp_path):
    """ivf_topk_persisted over an ivf_index_write index must (a) return
    EXACTLY the in-memory ivf_topk frame — same scoring, rounding and
    tie-breaks, so the persisted index is a drop-in — and (b) probe via
    a PARTITION filter on list_id (directory pruning at the source), the
    claim the operator's docstring makes for 100 TB."""
    import pyspark.sql.functions as F

    from paas_auditor_spark.operators.similarity import (
        ivf_index_write,
        ivf_topk,
        ivf_topk_persisted,
    )
    from paas_auditor_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    path = str(tmp_path / "ivf_index")
    ivf_index_write(emb, path, n_centroids=8)

    persisted = ivf_topk_persisted(
        spark, path, queries, k=5, nprobe=2
    )
    plan = persisted._jdf.queryExecution().executedPlan().toString()
    pf = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters" in ln and "list_id" in ln
    ]
    assert pf and "PartitionFilters: []" not in pf[0]

    in_memory = ivf_topk(emb, queries, k=5, n_centroids=8, nprobe=2)
    got = persisted.toPandas()
    want = in_memory.toPandas()
    assert got.values.tolist() == want.values.tolist()
    assert list(got.columns) == list(want.columns)


def test_ivf_tombstones_equal_never_indexed(spark, sf_dir, tmp_path):
    """IVF deletion contract: probing a full index with a tombstone
    dataset must return EXACTLY what an index built WITHOUT the deleted
    vectors returns (both share the frozen centroid prefix — the
    deleted ids are all ≥ n_centroids, so the quantizers are identical
    and the comparison is airtight)."""
    import pyspark.sql.functions as F

    from paas_auditor_spark.operators.atomic import (
        tombstone_ids,
        tombstones_collector,
    )
    from paas_auditor_spark.operators.similarity import (
        ivf_index_write,
        ivf_topk_persisted,
    )
    from paas_auditor_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    dead_pred = (F.col("vec_id") >= 100) & (F.col("vec_id") % 7 == 0)

    full = str(tmp_path / "ivf_full")
    ivf_index_write(emb, full, n_centroids=8)
    # survivor index: the deleted vectors never enter
    surv = str(tmp_path / "ivf_surv")
    ivf_index_write(emb.filter(~dead_pred), surv, n_centroids=8)

    tomb = str(tmp_path / "tomb")
    tombstones_collector(tomb, id_col="vec_id")(
        emb.filter(dead_pred).select("vec_id"), 0
    )

    got = ivf_topk_persisted(
        spark, full, queries, k=5, nprobe=2, tombstone_path=tomb
    ).toPandas()
    want = ivf_topk_persisted(spark, surv, queries, k=5, nprobe=2).toPandas()
    assert got.values.tolist() == want.values.tolist()
    # and the deletion is not vacuous: the unfiltered probe differs
    noto = ivf_topk_persisted(spark, full, queries, k=5, nprobe=2).toPandas()
    assert noto.values.tolist() != want.values.tolist()
    # a tombstone dataset with nothing committed yet reads as bootstrap
    assert tombstone_ids(spark, str(tmp_path / "nope")) is None


def test_ivfpq_tombstones_equal_never_indexed(spark, sf_dir, tmp_path):
    """The IVF-PQ serving path honors the same deletion contract as
    IVF: probing with tombstones equals probing an index built without
    the deleted vectors (codebooks/centroids identical — the deleted
    ids are all ≥ the training prefix)."""
    import pyspark.sql.functions as F

    from paas_auditor_spark.operators.atomic import tombstones_collector
    from paas_auditor_spark.operators.similarity import (
        ivfpq_index_write,
        ivfpq_topk_persisted,
    )
    from paas_auditor_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    dead_pred = (F.col("vec_id") >= 300) & (F.col("vec_id") % 5 == 0)

    full = str(tmp_path / "full")
    surv = str(tmp_path / "surv")
    ivfpq_index_write(emb, full, n_centroids=8, m=4, codes=16)
    ivfpq_index_write(
        emb.filter(~dead_pred), surv, n_centroids=8, m=4, codes=16
    )
    tomb = str(tmp_path / "tomb")
    tombstones_collector(tomb, id_col="vec_id")(
        emb.filter(dead_pred).select("vec_id"), 0
    )
    got = ivfpq_topk_persisted(
        spark, full, queries, k=5, nprobe=2, rerank=32, tombstone_path=tomb
    ).toPandas()
    want = ivfpq_topk_persisted(
        spark, surv, queries, k=5, nprobe=2, rerank=32
    ).toPandas()
    assert got.values.tolist() == want.values.tolist()
    noto = ivfpq_topk_persisted(
        spark, full, queries, k=5, nprobe=2, rerank=32
    ).toPandas()
    assert noto.values.tolist() != want.values.tolist()


def test_ivfpq_persisted_equals_in_memory_and_prunes(spark, sf_dir, tmp_path):
    """The persisted IVF-PQ probe must (a) return EXACTLY ivfpq_topk's
    frame — shared centroid/codebook literal builders make assignment,
    ADC ranking and the exact re-rank bit-identical — and (b) scan the
    code-only lists table through a static list_id PARTITION filter, so
    the float-vector store is touched only by the shortlist id-join."""
    import pyspark.sql.functions as F

    from paas_auditor_spark.operators.similarity import (
        ivfpq_index_write,
        ivfpq_topk,
        ivfpq_topk_persisted,
    )
    from paas_auditor_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    path = str(tmp_path / "ivfpq_index")
    ivfpq_index_write(emb, path, n_centroids=8, m=4, codes=16)

    persisted = ivfpq_topk_persisted(
        spark, path, queries, k=5, nprobe=2, rerank=32
    )
    plan = persisted._jdf.queryExecution().executedPlan().toString()
    pf = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters" in ln and "list_id" in ln
    ]
    assert pf and "PartitionFilters: []" not in pf[0]

    in_memory = ivfpq_topk(
        emb, queries, k=5, n_centroids=8, nprobe=2, m=4, codes=16, rerank=32
    )
    got = persisted.toPandas()
    want = in_memory.toPandas()
    assert list(got.columns) == list(want.columns)
    assert got.values.tolist() == want.values.tolist()


def test_semantic_dedup_prunes_within_cluster_only(spark):
    """Two tight direction-groups: within each, only the lowest id
    survives; cross-cluster similarity never shadows anything."""
    rows = [
        (0, _vec(0)),
        (1, _vec(0, 2.0)),      # same direction as 0 → shadowed by 0
        (2, _vec(0, 0.5)),      # also shadowed (by 0 and 1)
        (3, _vec(5)),
        (4, _vec(5, 3.0)),      # shadowed by 3
        (5, _vec(20)),          # alone in its direction → kept
    ]
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    df = spark.createDataFrame(rows, schema)
    out = {r["vec_id"]: r for r in
           similarity.semantic_dedup(df, k=6, threshold=0.95).collect()}
    assert len(out) == 6  # every vector gets a row
    assert [v for v in sorted(out) if out[v]["keep"]] == [0, 3, 5]
    # cluster assignment is the nearest centroid (centroids = ids < k,
    # which here is every vector → each is its own centroid at cos 1.0)
    assert all(out[v]["cos_to_centroid"] == 1.0 for v in out)


def test_semantic_dedup_testdata_keep_set_consistent(spark, sf_dir):
    """On real testdata: keep-set = vectors with no smaller-id same-cluster
    neighbor above threshold (re-derived independently per row)."""
    from paas_auditor_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.semantic_dedup(emb, k=8, threshold=0.4)
    rows = out.collect()
    assert len(rows) == emb.count()
    removed = [r for r in rows if not r["keep"]]
    assert removed, "threshold 0.4 should shadow at least one vector"
    # every removed vector must have a kept-or-removed smaller-id neighbor
    # in the SAME cluster at >= threshold (spot-check via exact pairs)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_near_duplicates(emb, threshold=0.4).collect()
    }
    cluster = {r["vec_id"]: r["cluster_id"] for r in rows}
    for r in removed:
        assert any(
            (a, r["vec_id"]) in pairs and cluster[a] == r["cluster_id"]
            for a in cluster
            if a < r["vec_id"]
        ), f"vec {r['vec_id']} removed without an in-cluster shadower"


def test_ivfpq_recall_floor_and_exact_rerank(spark, sf_dir):
    """IVF-PQ top-k: (a) returned cos_sim values are EXACT (re-rank uses
    true vectors — every returned (query, neighbor, sim) must appear in
    the brute-force table); (b) recall@5 vs brute force stays above the
    floor the IVF probe allows."""
    import pyspark.sql.functions as F

    from paas_auditor_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    approx = similarity.ivfpq_topk(
        emb, queries, k=5, n_centroids=8, nprobe=2, m=4, codes=16, rerank=32
    ).collect()
    exact = similarity.brute_force_topk(emb, queries, k=5).collect()
    exact_sims = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in exact
    }
    all_sims = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in similarity.brute_force_topk(emb, queries, k=10**9).collect()
    }
    for r in approx:
        assert all_sims[(r["query_id"], r["neighbor_id"])] == r["cos_sim"]
    hits = sum(1 for key in {(r["query_id"], r["neighbor_id"]) for r in approx}
               if key in exact_sims)
    recall = hits / max(len(exact_sims), 1)
    assert recall >= 0.5, f"IVF-PQ recall@5 {recall:.2f} below floor"


def test_mmr_balances_relevance_and_diversity(spark):
    """λ=1 degenerates to pure relevance top-k; a diversity-heavy λ=0.3
    with two tight clusters must pick from BOTH clusters within the
    first two picks (pure relevance would exhaust the nearer cluster
    first: the near-duplicate penalty ≈1 dominates the ~0.78 rel gap
    only when 1−λ outweighs λ)."""
    from paas_auditor_spark.operators.similarity import mmr_select

    anchor = [1.0, 0.0, 0.0, 0.0]
    # cluster A hugs the anchor; cluster B is orthogonal-ish but not anti
    rows = [
        (1, [0.99, 0.1, 0.0, 0.0]),
        (2, [0.98, 0.12, 0.0, 0.0]),
        (3, [0.97, 0.14, 0.0, 0.0]),
        (4, [0.2, 0.9, 0.1, 0.0]),
        (5, [0.18, 0.92, 0.1, 0.0]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    pure = [
        r["vec_id"]
        for r in mmr_select(df, anchor, k=3, lam=1.0).orderBy("select_rank").collect()
    ]
    assert pure == [1, 2, 3]  # relevance order, ids ascending on ties

    mixed = [
        r["vec_id"]
        for r in mmr_select(df, anchor, k=3, lam=0.3).orderBy("select_rank").collect()
    ]
    assert mixed[0] == 1  # best relevance always first
    assert any(v in (4, 5) for v in mixed[:2])  # cluster B enters early


def test_ivf_auto_params_integer_exact_and_cross_engine():
    """VERDICT r7 #1: registry IVF queries size n_centroids/nprobe from
    the corpus count (≈√n/4 power-of-two lists) instead of a fixed 8 —
    and the sizing must be INTEGER-EXACT so the DuckDB oracle recomputes
    the identical parameters from count(*).  Pins (a) the historical 8/2
    at every committed test SF (n ≤ 4095), (b) the r7-measured best 64/8
    at the 200k-row 100×-rehearsal corpus, (c) the [8,1024]×[2,8] clamps,
    and (d) bit-equality with the oracle's p·p ≤ n SQL replay across four
    decades of n, including the power-of-four boundaries a float-log2
    formulation could misround."""
    import duckdb

    from paas_auditor_spark.operators.similarity import ivf_auto_params

    assert ivf_auto_params(500) == (8, 2)      # sf0.001 / sf0.01
    assert ivf_auto_params(2000) == (8, 2)     # sf0.1
    assert ivf_auto_params(200_000) == (64, 8) # 100× rehearsal corpus
    assert ivf_auto_params(1) == (8, 2)        # floor clamp
    assert ivf_auto_params(10**12) == (1024, 8)  # ceiling clamp

    probe = [1, 2, 3, 500, 2000] + [4**k + d for k in range(2, 10)
                                    for d in (-1, 0, 1)]
    for n in probe:
        if n < 1:
            continue
        got = duckdb.sql(f"""
          WITH pow2 AS (
            SELECT max(CAST(power(2, g) AS BIGINT)) AS p
            FROM generate_series(0, 30) t(g), (SELECT {n}::BIGINT AS cnt) c
            WHERE CAST(power(2, g) AS BIGINT) * CAST(power(2, g) AS BIGINT)
                    <= c.cnt)
          SELECT greatest(8, least(1024, p // 4)),
                 greatest(2, least(8,
                     greatest(8, least(1024, p // 4)) // 8))
          FROM pow2""").fetchone()
        assert ivf_auto_params(n) == tuple(got), n
        # unclamped (persisted-path) form vs its own SQL twin
        got_u = duckdb.sql(f"""
          WITH pow2 AS (
            SELECT max(CAST(power(2, g) AS BIGINT)) AS p
            FROM generate_series(0, 30) t(g), (SELECT {n}::BIGINT AS cnt) c
            WHERE CAST(power(2, g) AS BIGINT) * CAST(power(2, g) AS BIGINT)
                    <= c.cnt)
          SELECT greatest(8, p // 4),
                 greatest(2, least(8, greatest(8, p // 4) // 8))
          FROM pow2""").fetchone()
        assert ivf_auto_params(n, max_centroids=None) == tuple(got_u), n


def test_ivf_unclamped_sizing_keeps_candidates_sublinear():
    """VERDICT r8 #3: the persisted index paths size UNCLAMPED
    (max_centroids=None) because the 1024-centroid clamp makes probe
    candidate volume nprobe·n/nc revert to LINEAR past n ≈ 16.8M
    vectors; unclamped it stays ≈ 32√n.  Pins (a) clamped == unclamped
    below the clamp point (every committed corpus is bit-unchanged),
    (b) divergence above it, and (c) sublinear growth: +100× data →
    ~10× candidates for the unclamped form vs ~97× for the clamped."""
    from paas_auditor_spark.operators.similarity import ivf_auto_params

    for n in (1, 500, 2000, 200_000, 16_000_000):
        assert ivf_auto_params(n) == ivf_auto_params(n, max_centroids=None)

    def cand_volume(n, max_centroids):
        nc, npr = ivf_auto_params(n, max_centroids=max_centroids)
        return npr * n / nc

    # n = 10⁸: clamp binds (p/4 = 2048 > 1024)
    assert ivf_auto_params(10**8) == (1024, 8)
    assert ivf_auto_params(10**8, max_centroids=None) == (2048, 8)
    # two decades up from 10⁸, candidate volume must grow ~√100 = 10×
    grow_unclamped = cand_volume(10**10, None) / cand_volume(10**8, None)
    grow_clamped = cand_volume(10**10, 1024) / cand_volume(10**8, 1024)
    assert grow_unclamped <= 13        # ≈ √100, snapped to powers of two
    assert grow_clamped >= 90          # the linear regress the lift removes
    # absolute: at the brief's 10¹²-vector scale the unclamped probe
    # touches ~6·10⁷ candidates per query, not the clamp's ~8·10⁹
    assert cand_volume(10**12, None) < 7e7
    assert cand_volume(10**12, 1024) > 5e9


def test_ivf_empty_corpus_returns_empty_not_crash(spark):
    """r8 review finding: the matmul assignment UDF crashed with a numpy
    AxisError when the centroid set was empty — the replaced join+window
    form returned an empty frame.  Empty corpus → empty result, on both
    the in-memory operator and an index initialized from nothing."""
    from paas_auditor_spark.operators.similarity import ivf_topk

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )
    queries = spark.createDataFrame(
        [(1000001, [0.1] * 4)], "vec_id long, embedding array<double>"
    )
    assert ivf_topk(empty, queries, k=5, n_centroids=8, nprobe=2).count() == 0
    # assignment against an EMPTY centroid relation: zero rows, not a crash
    from paas_auditor_spark.operators.similarity import _ivf_assign

    cents = spark.createDataFrame(
        [], "centroid_id long, cv array<double>, cnorm double"
    )
    assert _ivf_assign(queries, cents, "vec_id", "embedding").count() == 0
