"""Similarity search over embedding columns (array<float>).

North-star operator set (beyond reference surface):
- ``brute_force_topk``: exact cosine top-k — the correctness baseline.
- ``lsh_topk``: random-hyperplane LSH bucketed approximate top-k — the
  scale path: candidates come from an equi-join on the hyperplane sign
  bucket, so each query touches a bucket, not the full corpus.

Scale design: the query side is expected to be small (broadcast); the
corpus side streams.  Dot products are computed with built-in
``aggregate``/``zip_with`` array expressions — JVM-side, codegen'd, no
Python in the hot path.  At 100 TB the corpus is pre-bucketed on disk so
bucket pruning replaces the scan (IVF-style), which the LSH variant models.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from paas_auditor_spark.functions.exprs import fan_out
from paas_auditor_spark.sources.tables import read_parquet_cached


def _plane_coeffs(p: int, dim: int = 64) -> list:
    """Coefficients of deterministic pseudo-random hyperplane ``p``.

    The single source of truth for the plane family: both the expression
    path (``hyperplane_bucket``) and the vectorized numpy path
    (``embedding_near_duplicates_lsh``) call this, so their sign tests
    agree by construction.  The RNG is seeded ONCE per plane and then
    advanced per coefficient — re-seeding per coefficient would make all
    ``dim`` components identical (a constant multiple of all-ones, which
    collapses every plane to sign(sum(v)) and degenerates LSH banding).
    """
    import random

    rng = random.Random(0xC0FFEE + p)
    return [rng.uniform(-1.0, 1.0) for _ in range(dim)]


def _to_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right sum of element products (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_topk(
    corpus_df: DataFrame,
    queries_df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Plan shape: broadcast(queries) × corpus — a broadcast nested-loop join
    (no shuffle of the corpus), then a per-query top-k window.  Norms are
    computed once per side before the join.  Ranking uses the rounded
    similarity with a neighbor-id tie-break so results are deterministic.
    """
    c = fan_out(
        corpus_df.select(
            F.col(id_col).alias("neighbor_id"),
            _to_double(F.col(vec_col)).alias("cvec"),
        )
    ).withColumn("cnorm", l2_norm(F.col("cvec")))
    q = queries_df.select(
        F.col(id_col).alias("query_id"),
        _to_double(F.col(vec_col)).alias("qvec"),
    ).withColumn("qnorm", l2_norm(F.col("qvec")))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qvec"), F.col("cvec"))
                / (F.col("qnorm") * F.col("cnorm")),
                round_digits,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def hyperplane_bucket(
    vec: Column, n_planes: int = 8, dim: int = 64, plane_offset: int = 0
) -> Column:
    """Sign-pattern bucket id from deterministic pseudo-random hyperplanes.

    Plane p's component j is derived from xxhash64(p, j) mapped to [-1, 1] —
    fully deterministic, no stored model, computable at read time on any
    executor.  ``plane_offset`` selects a disjoint plane family, so callers
    can build independent hash tables (OR-amplification) from one function.

    The plane coefficients are generated in Python (seeded) and embedded as
    LITERAL arrays: they're constant per plane, and an expression-side
    derivation (xxhash over a sequence) re-hashes the whole plane for
    every row — constant work that Catalyst cannot fold out of a lambda.
    """

    def plane_dot(p: int) -> Column:
        # one F.lit per PLANE (array literal), not one per coefficient —
        # 64 py4j round trips per plane during plan construction add whole
        # seconds to query build time
        coeffs = F.lit(_plane_coeffs(p, dim))
        return dot(vec, coeffs)

    bits = [
        F.when(plane_dot(plane_offset + p) >= 0, F.lit(1 << p)).otherwise(
            F.lit(0)
        )
        for p in range(n_planes)
    ]
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket + b
    return bucket.cast("int")


def lsh_bucket_keys_udf(n_planes: int, n_tables: int, dim: int = 64):
    """Arrow-batched UDF computing all ``n_tables`` LSH bucket keys at once.

    All n_tables × n_planes sign tests run as ONE numpy matmul per batch:
    (batch × dim) · (dim × total_planes).  The expression-side formulation
    (n_tables × n_planes zip_with+aggregate dots per row) is interpreted
    per-element and ~5× slower — the documented "Python only when
    vectorization beats built-ins" exception (cf. README scale posture).
    Plane ``t*n_planes + p`` is ``_plane_coeffs(t*n_planes + p)``, the same
    family ``hyperplane_bucket(..., plane_offset=t*n_planes)`` uses, so
    table t's key equals ``t << n_planes | hyperplane_bucket(...)`` —
    agreement unit-tested (test_similarity.py).

    Returned key = ``table_id * 2**n_planes + bucket`` (disjoint key
    spaces per table).
    """
    from pyspark.sql.functions import pandas_udf

    total_planes = n_tables * n_planes
    planes = np.array(
        [_plane_coeffs(p, dim) for p in range(total_planes)]
    ).T  # (dim × total_planes)
    bit_weights = 1 << np.arange(n_planes)
    table_base = np.arange(n_tables) << n_planes

    @pandas_udf("array<int>")
    def bucket_keys(vs: pd.Series) -> pd.Series:
        mat = np.vstack(vs.to_numpy())  # (batch × dim)
        signs = (mat @ planes) >= 0  # (batch × total_planes), plane-major
        per_table = signs.reshape(-1, n_tables, n_planes)
        keys = (per_table * bit_weights).sum(axis=2) + table_base
        return pd.Series(list(keys.astype("int32")))

    return bucket_keys


def _empty_ids_udf():
    """pandas_udf returning an empty id array per row — the shared
    no-centroids fallback: explode of an empty array restores the
    zero-assignment-rows behavior of the replaced join+window forms."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def none_(vs: pd.Series) -> pd.Series:
        return pd.Series([[] for _ in range(len(vs))])

    return none_


def _assign_matrix(vs: "pd.Series", dim: int) -> "np.ndarray":
    """Validated (batch × dim) matrix for the assignment UDFs.

    ``np.vstack`` on a raw Arrow column turns a NULL or wrong-dimension
    embedding row into an opaque numpy broadcast error deep in a task,
    where a join+window form would yield null sims.  Assignment must
    produce a list id for EVERY row (silently dropping bad vectors would
    lose corpus rows from an index build), so unlike pca's pre-filter the
    contract here is reject-loudly: the good path costs nothing (one
    try), and on failure the batch is scanned to name the offending row
    and the contract explicitly."""
    arr = vs.to_numpy()
    try:
        mat = np.vstack(arr)
        if mat.ndim == 2 and mat.shape[1] == dim:
            return mat
    except Exception:
        pass
    for i, v in enumerate(arr):
        if v is None:
            raise ValueError(
                f"IVF assignment: NULL embedding at row {i} of an Arrow "
                "batch — every assigned row needs a vector; filter or "
                "impute null embeddings upstream (pca's pre-filter "
                "contract) before index build/probe"
            )
        if len(v) != dim:
            raise ValueError(
                f"IVF assignment: embedding of dimension {len(v)} at row "
                f"{i} of an Arrow batch, but the centroid matrix is "
                f"{dim}-dimensional — the corpus must be "
                "dimension-homogeneous"
            )
    raise ValueError(
        "IVF assignment: embedding column could not be stacked into a "
        f"(batch × {dim}) matrix"
    )


def _cent_matrix(cent_rows):
    """(unit-centroid matrix dim×k, id vector) from (id, vec) rows —
    the ONE place the 1e-12 norm floor and the sorted-by-id layout
    (which makes stable ties = lowest centroid id) live, shared by the
    raw-cosine and rounded-cosine assignment UDFs."""
    C = np.array([v_ for _, v_ in cent_rows], dtype=np.float64)
    cn = np.maximum(np.sqrt((C * C).sum(axis=1)), 1e-12)
    cu = (C / cn[:, None]).T
    cids = np.array([i for i, _ in cent_rows], dtype=np.int64)
    return cu, cids


def nearest_lists_udf(cent_rows, n_lists: int):
    """Arrow-batched IVF coarse assignment: the ``n_lists`` nearest
    centroid ids per vector (by cosine, ties to the lower centroid id)
    as ONE numpy matmul per batch — (batch × dim) · (dim × n_centroids)
    against the UNIT-normalized centroid matrix (the row's own norm is a
    positive scalar and cannot change its ranking).

    The expression-side form (a per-row array_sort over n_centroids
    zip_with+aggregate dot structs) does not scale with the corpus-scaled
    centroid counts: at 64 lists the HOF form allocates n_centroids temporary
    zip arrays PER ROW (12.8M × 64-dim at the 200k-corpus rehearsal point —
    measured 138 s wall, ratio 64×), while the matmul runs the identical 820M
    multiplies in ~0.2 s of BLAS.  The third member of the documented "Python
    only when vectorization beats built-ins" family (lsh_bucket_keys_udf,
    pairwise_dot_udf).

    Shared by EVERY assignment site — in-memory ivf/ivfpq operators,
    index builds, incremental appends, persisted probes — so all paths
    assign identically by construction.  Cross-engine note: numpy's
    pairwise summation differs from the oracle's sequential fold in the
    last ulp, so an assignment could flip only if two centroid
    similarities sit within ~1e-13 — the _oracle_embedding_lsh
    argument; no such near-tie exists in any committed corpus, and the
    driver's hash check would catch one loudly."""
    from pyspark.sql.functions import pandas_udf

    if not cent_rows:
        # empty corpus / just-initialized index: no centroid → no list
        return _empty_ids_udf()

    cu, cids = _cent_matrix(cent_rows)

    @pandas_udf("array<long>")
    def nearest(vs: pd.Series) -> pd.Series:
        mat = _assign_matrix(vs, cu.shape[0])  # (batch × dim), validated
        sims = mat @ cu  # (batch × n_centroids)
        # stable argsort on -sims: ties keep ascending row order, and
        # cent_rows is sorted by centroid id → lower id wins ties
        order = np.argsort(-sims, axis=1, kind="stable")[:, :n_lists]
        return pd.Series(list(cids[order]))

    return nearest


def _cent_rows_collect(corpus_df, n_centroids, id_col, vec_col):
    """Bounded centroid collect (≤ n_centroids rows — the
    _pq_sample_rows convention): the first ``n_centroids`` corpus
    vectors by id, as (id, [float64]) sorted by id."""
    return sorted(
        (
            (r[0], list(r[1]))
            for r in corpus_df.filter(F.col(id_col) < n_centroids)
            .select(F.col(id_col), _to_double(F.col(vec_col)))
            .collect()
        ),
        key=lambda t: t[0],
    )


def _nearest_rounded_udf(cent_rows, round_digits: int):
    """Winning centroid id by ROUNDED cosine — semantic_dedup's ranking
    (round half-up at ``round_digits``, ties to the lower centroid id)
    as one Arrow-batched matmul per batch.  Ranking happens on the
    SCALED-INTEGER rounded values (sign·floor(|cos|·10^d + 0.5)), so no
    re-division noise can reorder equal rounded cosines; the half-up
    form matches the JVM/DuckDB round the relational path used.  Same
    near-tie caveat as nearest_lists_udf: numpy's summation order can
    flip a winner only when a true cosine sits within ~1e-12 of both a
    rounding boundary AND a tie — absent from every committed corpus,
    and the driver's hash check fails loudly if it ever appears.
    Returns a 1-element id array (empty when there are no centroids, so
    explode restores zero-rows behavior)."""
    from pyspark.sql.functions import pandas_udf

    if not cent_rows:
        return _empty_ids_udf()

    cu, cids = _cent_matrix(cent_rows)
    scale = 10.0 ** round_digits

    @pandas_udf("array<long>")
    def best(vs: pd.Series) -> pd.Series:
        mat = _assign_matrix(vs, cu.shape[0])
        nrm = np.sqrt((mat * mat).sum(axis=1))
        nrm[nrm == 0.0] = np.inf  # zero vector: cosine 0 to everything
        sims = (mat @ cu) / nrm[:, None]
        ri = np.sign(sims) * np.floor(np.abs(sims) * scale + 0.5)
        # argmax returns the FIRST maximum — lowest centroid id on ties
        # (cent_rows is id-sorted), at O(k) instead of a full argsort
        best_idx = np.argmax(ri, axis=1)
        return pd.Series([[cid] for cid in cids[best_idx]])

    return best


def _cent_rows_from_df(cents_df):
    """The (centroid_id, cv)-relation form of ``_cent_rows_collect`` —
    the ONE id/vector extraction + lower-id-first sort every persisted
    path shares (index builds and persisted probes), so the
    tie-breaking order that makes "all paths assign identically" true
    lives in exactly one place."""
    return sorted(
        (
            (int(r["centroid_id"]), list(r["cv"]))
            for r in cents_df.collect()  # bounded: ≤ n_centroids rows
        ),
        key=lambda t: t[0],
    )


def pairwise_dot_udf():
    """Arrow-batched UDF: row-wise dot product of two array<double> columns.

    Used by the LSH verify step, where the candidate set is orders of
    magnitude larger than the corpus (every close pair × every colliding
    table) — at sf0.1 ~800k candidate dots.  One einsum per Arrow batch
    replaces ~10⁸ interpreted HOF element operations (measured ~4× faster
    end-to-end); the same "Python only when vectorization beats built-ins"
    exception as ``lsh_bucket_keys_udf``.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def pair_dot(a: pd.Series, b: pd.Series) -> pd.Series:
        ma = np.vstack(a.to_numpy())
        mb = np.vstack(b.to_numpy())
        return pd.Series(np.einsum("ij,ij->i", ma, mb))

    return pair_dot


def lsh_topk(
    corpus_df: DataFrame,
    queries_df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    round_digits: int = 4,
) -> DataFrame:
    """Approximate top-k: candidates share the query's hyperplane bucket.

    The corpus join key is the bucket id — at scale the corpus is written
    partitioned by bucket so this is partition pruning (IVF-style probe),
    and recall is tuned by lowering n_planes or probing neighbor buckets.
    """
    dim = 64
    c = corpus_df.select(
        F.col(id_col).alias("neighbor_id"),
        _to_double(F.col(vec_col)).alias("cvec"),
    ).withColumn("bucket", hyperplane_bucket(F.col("cvec"), n_planes, dim))
    c = c.withColumn("cnorm", l2_norm(F.col("cvec")))
    q = queries_df.select(
        F.col(id_col).alias("query_id"),
        _to_double(F.col(vec_col)).alias("qvec"),
    ).withColumn("bucket", hyperplane_bucket(F.col("qvec"), n_planes, dim))
    q = q.withColumn("qnorm", l2_norm(F.col("qvec")))
    scored = (
        c.join(F.broadcast(q), on="bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qvec"), F.col("cvec"))
                / (F.col("qnorm") * F.col("cnorm")),
                round_digits,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def _normed(df: DataFrame, id_col: str, vec_col: str, suffix: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias(f"id_{suffix}"),
        _to_double(F.col(vec_col)).alias(f"v_{suffix}"),
    ).withColumn(f"n_{suffix}", l2_norm(F.col(f"v_{suffix}")))


def embedding_near_duplicates(
    corpus_df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs (id_a < id_b).

    All-pairs self-join with one side broadcast — the exact baseline, fine
    while one side fits in memory.  The filter compares the ROUNDED
    similarity so boundary pairs are decided identically by any re-checker
    using the same rounding.  At corpus scale use
    ``embedding_near_duplicates_lsh`` (bucketed candidates, same verify).
    """
    a = fan_out(_normed(corpus_df, id_col, vec_col, "a"))
    b = _normed(corpus_df, id_col, vec_col, "b")
    scored = (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b")),
                round_digits,
            ).alias("cos_sim"),
        )
    )
    return scored.filter(F.col("cos_sim") >= threshold).orderBy("id_a", "id_b")


def embedding_near_duplicates_lsh(
    corpus_df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    n_tables: int = 8,
    round_digits: int = 4,
    verify: str = "bucket",
) -> DataFrame:
    """Approximate embedding near-dup: multi-table hyperplane LSH
    candidates, then exact cosine verify — the 100 TB path.

    One k-plane table alone collides a θ-angle pair with probability
    (1 − θ/π)^k — at cosine 0.4 and k=4 that's ~16% recall, useless.  The
    standard fix is OR-amplification: ``n_tables`` independent plane
    families; a pair is a candidate if it collides in ANY table, lifting
    recall to 1 − (1 − p^k)^L (~0.75 at cosine 0.4, >0.99 at 0.9 with
    k=4, L=8) while each table's equi-join stays near-linear.

    **Verify modes** (``verify=``), by what travels per candidate:

    - ``"bucket"`` (default, the 100 TB layout): the banded
      (bucket, id, vec) table is hash-partitioned by bucket and each
      bucket verifies against ONLY its own, locally materialized
      vectors inside one ``applyInPandas`` group — within a bucket
      every pair collides by construction, so the within-bucket
      pairwise cosine IS the candidate verification for that bucket.
      No driver collect, no corpus broadcast, no candidate-pair
      self-join: shuffle volume is exactly the banded table
      (``n_tables`` × dim × 8 B per vector), independent of how many
      candidate pairs exist.  Below-threshold pairs are dropped
      executor-side before the cross-bucket dedup, so only survivors
      shuffle twice.  Per-task memory is bounded by the LARGEST
      bucket (rows × dim doubles; the pairwise scores are computed in
      row blocks, never as a full |bucket|² matrix) — expected bucket
      size is n/2^``n_planes`` per table, so skewed corpora raise
      ``n_planes``, not executor memory.
    - ``"broadcast"``: dedup candidate (id_a, id_b) pairs from a banded
      self-join, collect + L2-normalize the corpus ONCE on the driver,
      broadcast the matrix, score pairs as numpy gather+einsum (16 B
      per pair across Arrow).  Fastest when the corpus fits in memory
      (dim × 8 B per vector — ~1 GB per 2M vectors at dim 64), the same
      boundary ``knn_topk`` draws for its broadcast side; the explicit
      driver-memory contract makes it opt-in, not the default.
    - ``"join"``: attach vectors to candidate pairs by join — unbounded
      corpus, but shuffles dim × 8 B per CANDIDATE (candidates outnumber
      the corpus by orders of magnitude); the fallback when one bucket
      outgrows executor memory AND the corpus outgrows the broadcast
      contract.
    """
    if verify not in ("bucket", "broadcast", "join"):
        raise ValueError(f"verify must be bucket|broadcast|join, got {verify!r}")
    c = fan_out(
        corpus_df.select(
            F.col(id_col),
            _to_double(F.col(vec_col)).alias("v"),
        )
    ).withColumn("nrm", l2_norm(F.col("v")))
    # All n_tables × n_planes sign tests as ONE Arrow-batched matmul:
    # (batch × dim) · (dim × planes) in numpy.  The expression-side
    # formulation (32 zip_with+aggregate dots per row) is interpreted
    # per-element and ~5× slower — this is the documented "Python only
    # when vectorization beats built-ins" exception (cf. README scale
    # posture).  Plane matrix is the same seeded family hyperplane_bucket
    # uses, so both paths stay consistent.
    bucket_keys = lsh_bucket_keys_udf(n_planes, n_tables)

    if verify == "bucket":
        id_type = corpus_df.schema[id_col].dataType.simpleString()
        out_schema = f"id_a {id_type}, id_b {id_type}, cos_sim double"
        banded_v = c.select(
            F.col(id_col).alias("id"),
            F.col("v"),
            F.col("nrm"),
            F.explode(bucket_keys(F.col("v"))).alias("bucket"),
        )

        def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
            n = len(pdf)
            if n < 2:
                return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})
            order = np.argsort(pdf["id"].to_numpy())
            ids = pdf["id"].to_numpy()[order]
            nrm = pdf["nrm"].to_numpy()[order]
            nrm = np.where(nrm == 0.0, np.nan, nrm)  # zero vectors never match
            m = np.vstack(pdf["v"].to_numpy()[order]) / nrm[:, None]
            out_a, out_b, out_s = [], [], []
            # row blocks keep peak memory at block×|bucket| scores, never
            # the full |bucket|² matrix
            block = 1024
            for lo in range(0, n - 1, block):
                hi = min(lo + block, n)
                sims = np.round(m[lo:hi] @ m.T, round_digits)
                ia, ib = np.nonzero(sims >= threshold)
                ia = ia + lo
                keep = ia < ib  # upper triangle only: id_a < id_b
                out_a.append(ids[ia[keep]])
                out_b.append(ids[ib[keep]])
                out_s.append(sims[ia[keep] - lo, ib[keep]])
            return pd.DataFrame(
                {
                    "id_a": np.concatenate(out_a),
                    "id_b": np.concatenate(out_b),
                    "cos_sim": np.concatenate(out_s),
                }
            )

        # a pair colliding in several tables/buckets is recomputed with
        # identical rounded value in each, so distinct() on all three
        # columns dedups exactly
        return (
            banded_v.groupBy("bucket")
            .applyInPandas(bucket_pairs, out_schema)
            .distinct()
            .orderBy("id_a", "id_b")
        )

    # candidate-pair modes: banded self-join, pairs deduped BEFORE
    # verification so a pair colliding in many tables is scored once
    c = c.localCheckpoint(eager=False)  # both self-join sides + verify read it
    # key = table_id * 2^n_planes + bucket (disjoint key spaces per table)
    banded = c.select(
        F.col(id_col), F.explode(bucket_keys(F.col("v"))).alias("bucket")
    ).localCheckpoint(eager=False)  # both self-join sides read it
    pairs = (
        banded.alias("l")
        .join(banded.alias("r"), on="bucket")
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    if verify == "broadcast":
        # id-only verify: collect + L2-normalize the corpus once (bounded
        # by the documented memory contract), broadcast it, ship nothing
        # but id pairs to Python
        from pyspark.sql.functions import pandas_udf

        rows = c.collect()
        order = np.argsort([r[0] for r in rows])
        ids = np.array([rows[i][0] for i in order])
        mat = np.vstack([rows[i]["v"] for i in order]) / np.array(
            [rows[i]["nrm"] for i in order]
        )[:, None]
        bc = corpus_df.sparkSession.sparkContext.broadcast((ids, mat))

        @pandas_udf("double")
        def pair_cos(ia: pd.Series, ib: pd.Series) -> pd.Series:
            ids_, m = bc.value
            a = np.searchsorted(ids_, ia.to_numpy())
            b = np.searchsorted(ids_, ib.to_numpy())
            return pd.Series(np.einsum("ij,ij->i", m[a], m[b]))

        scored = pairs.select(
            "id_a",
            "id_b",
            F.round(pair_cos(F.col("id_a"), F.col("id_b")), round_digits).alias(
                "cos_sim"
            ),
        )
        return scored.filter(F.col("cos_sim") >= threshold).orderBy(
            "id_a", "id_b"
        )

    va = c.select(
        F.col(id_col).alias("id_a"), F.col("v").alias("v_a"), F.col("nrm").alias("n_a")
    )
    vb = c.select(
        F.col(id_col).alias("id_b"), F.col("v").alias("v_b"), F.col("nrm").alias("n_b")
    )
    pair_dot = pairwise_dot_udf()
    scored = (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                pair_dot(F.col("v_a"), F.col("v_b"))
                / (F.col("n_a") * F.col("n_b")),
                round_digits,
            ).alias("cos_sim"),
        )
    )
    return scored.filter(F.col("cos_sim") >= threshold).orderBy("id_a", "id_b")


def ivf_auto_params(
    n: int, max_centroids: int | None = 1024
) -> tuple[int, int]:
    """Corpus-scaled IVF sizing (a FIXED n_centroids=8 makes every probed
    list grow linearly with the corpus — the one measured super-drift
    scaling entry, 10.45× wall at the 100× point).

    ``n_centroids`` = clamp(p/4, 8, max_centroids) where p is the
    largest power of two with p² ≤ n, i.e. ≈ √n/4 snapped to a power of
    two; ``nprobe`` = clamp(n_centroids/8, 2, 8).  Candidate volume per
    query is then nprobe·n/n_centroids ≈ 32√n — sublinear — while
    assignment stays one vectorized matmul.  INTEGER-EXACT on purpose
    (isqrt + bit ops, no float log2), so the DuckDB oracle reproduces
    the identical sizing from count(*) with p·p ≤ n arithmetic and the
    cross-engine hash holds at ANY corpus size.  Reproduces the
    historical 8/2 at every committed test SF (n ≤ 4095) and the
    measured best 64/8 at the 200k-row 100×-rehearsal corpus
    (1.67 s vs 2.12 s).

    ``max_centroids``: the default 1024 cap protects the
    IN-MEMORY operators, which re-assign the whole corpus every run —
    beyond it, assignment cost n·nc would grow as n^1.5.  The PERSISTED
    index paths pass ``max_centroids=None``: there assignment is paid
    once at build time, so the cap's only defense doesn't apply, and
    keeping it would make probe candidate volume revert to
    nprobe·n/1024 — linear again — past n ≈ 16.8M vectors (2·10¹²
    candidate rows per query batch at the brief's 10¹² corpus; unclamped
    ≈ 32√n stays sublinear through every scale the brief names).  The
    driver-side costs the unclamped count implies stay bounded: the
    centroid collect is nc·dim·8 B ≈ 128 MB at n = 10¹² — the documented
    boundary where a two-level coarse quantizer (IMI) would take over."""
    import math

    p = 1 << (math.isqrt(max(n, 1)).bit_length() - 1)
    hi = p // 4 if max_centroids is None else min(max_centroids, p // 4)
    n_centroids = max(8, hi)
    return n_centroids, max(2, min(8, n_centroids // 8))


def ivf_topk(
    corpus_df: DataFrame,
    queries_df: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """IVF-style approximate top-k: a coarse quantizer assigns every corpus
    vector to its nearest centroid (inverted list); each query probes only
    its ``nprobe`` closest lists.

    Centroids here are the first ``n_centroids`` corpus vectors —
    deterministic and model-free (a k-means fit would slot in unchanged).
    Assignment is a NARROW Arrow-batched matmul against the collected
    centroid matrix (nearest_lists_udf) — no join, no window, no shuffle
    of vector payloads: a broadcast-join + per-id window form
    shuffles n_corpus × n_centroids WIDE rows (full vectors through the
    window exchange), which the corpus-scaled centroid counts
    (ivf_auto_params) turned into the dominant cost.  At 100 TB the
    corpus assignment is precomputed and the table is partitioned by
    ``list_id``, so a query probe is partition pruning, not a scan.
    """
    cent_rows = _cent_rows_collect(corpus_df, n_centroids, id_col, vec_col)

    def assign(df: DataFrame, side: str, n_lists: int) -> DataFrame:
        nearest = nearest_lists_udf(cent_rows, n_lists)
        return (
            df.select(
                F.col(id_col).alias(f"{side}_id"),
                _to_double(F.col(vec_col)).alias(f"{side}_v"),
            )
            .withColumn(f"{side}_n", l2_norm(F.col(f"{side}_v")))
            .withColumn(
                "centroid_id", F.explode(nearest(F.col(f"{side}_v")))
            )
        )

    corpus_lists = assign(corpus_df, "c", 1)
    query_probes = assign(queries_df, "q", nprobe)
    scored = (
        corpus_lists.join(F.broadcast(query_probes), on="centroid_id")
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            F.round(
                dot(F.col("q_v"), F.col("c_v")) / (F.col("q_n") * F.col("c_n")),
                round_digits,
            ).alias("cos_sim"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def _ivf_assign(
    corpus_df: DataFrame, cents: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Nearest-centroid-by-cosine assignment (ties to the lower centroid
    id) against a given centroid relation — the assignment step of
    ``ivf_index_write``.  The centroid relation is collected (bounded,
    ≤ n_centroids rows) and assignment is the shared Arrow-batched matmul
    (nearest_lists_udf) — one narrow map over the corpus, no join, no
    window: a join+window form made the 200k-corpus index build cost
    66 s of wide-row window shuffle."""
    nearest = nearest_lists_udf(_cent_rows_from_df(cents), 1)
    return (
        corpus_df.select(
            F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")
        )
        .withColumn("c_n", l2_norm(_to_double(F.col("c_vec"))))
        .withColumn(
            "list_id", F.explode(nearest(_to_double(F.col("c_vec"))))
        )
    )


def ivf_index_write(
    corpus_df: DataFrame,
    path: str,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF index ``ivf_topk``'s docstring promises: the
    corpus assignment is computed ONCE and written as parquet
    PARTITIONED BY ``list_id`` (one directory per inverted list), with
    the centroid table alongside.  Every later probe is then partition
    pruning over ``<path>/lists`` — the corpus is never re-assigned and
    never fully scanned.  This is the bloom_words pattern applied to
    ANN: pay the build once per corpus drop, amortize across query
    batches.

    Same deterministic coarse quantizer as ``ivf_topk`` (centroids = the
    first ``n_centroids`` corpus vectors; a k-means fit slots in
    unchanged): nearest centroid by cosine, ties to the lower centroid
    id.  The ORIGINAL ``vec_col`` values are persisted (not the double
    cast) so a probe scores bit-identically to the in-memory operator.
    """
    import os

    cents = (
        corpus_df.filter(F.col(id_col) < n_centroids)
        .select(
            F.col(id_col).alias("centroid_id"),
            _to_double(F.col(vec_col)).alias("cv"),
        )
        .withColumn("cnorm", l2_norm(F.col("cv")))
    )
    assigned = _ivf_assign(corpus_df, cents, id_col, vec_col)
    assigned.write.mode("overwrite").partitionBy("list_id").parquet(
        os.path.join(path, "lists")
    )
    cents.write.mode("overwrite").parquet(os.path.join(path, "centroids"))


def ivf_topk_persisted(
    spark,
    index_path: str,
    queries_df: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
    tombstone_path: str | None = None,
) -> DataFrame:
    """Probe-only IVF top-k over an index built by ``ivf_index_write``:
    read the centroid table (tiny), assign each query to its ``nprobe``
    closest lists, then scan ONLY those list partitions.

    ``tombstone_path`` (optional) points at a ``tombstones_collector``
    dataset of deleted vector ids: the candidate list rows are
    anti-joined before scoring, so a deleted vector can never be
    returned as a neighbor.  The CENTROID table is
    deliberately untouched — centroids are a frozen quantizer, not
    data; a deleted vector that seeded a centroid keeps partitioning
    space correctly (the standard IVF deletion semantics), and the
    periodic full rebuild (``ivf_index_write`` over the surviving
    corpus) is the major compaction that eventually retrains and the
    only physical removal.

    The probed list ids are collected driver-side before the scan — a
    bounded collect (≤ n_centroids rows, never corpus- or query-count-
    shaped) that turns the probe into a STATIC ``isin`` partition filter,
    so the parquet source prunes at planning time (`PartitionFilters` in
    the physical plan, plan-asserted in tests) rather than relying on
    runtime DPP.  At 100 TB with n_centroids ≈ √n lists this reads
    nprobe/n_centroids of the corpus per query batch.

    Output contract is identical to ``ivf_topk`` (same scoring, rounding
    and tie-breaks; equality test-pinned), so the two are
    interchangeable — this one amortizes assignment across query
    batches."""
    import os

    nearest = nearest_lists_udf(
        _cent_rows_from_df(
            read_parquet_cached(spark, os.path.join(index_path, "centroids"))
        ),
        nprobe,
    )
    # localCheckpoint: TWO consumers read this relation (the probed-ids
    # collect below and the final broadcast join), and without the cut
    # the assignment subplan would execute twice — worse, a
    # nondeterministic queries_df (sample(), unordered limit()) could
    # assign differently per execution and make the static partition
    # filter disagree with the in-plan probes, silently dropping
    # candidates.  The checkpoint pins ONE materialization for both.
    probes = (
        queries_df.select(
            F.col(id_col).alias("q_id"),
            _to_double(F.col(vec_col)).alias("q_v"),
        )
        .withColumn("q_n", l2_norm(F.col("q_v")))
        .withColumn("centroid_id", F.explode(nearest(F.col("q_v"))))
    ).localCheckpoint(eager=False)
    # bounded collect: ≤ n_centroids distinct list ids, independent of
    # corpus and query cardinality — the price of a static partition filter
    probed_ids = [
        r["centroid_id"]
        for r in probes.select("centroid_id").distinct().collect()
    ]
    lists = (
        read_parquet_cached(spark, os.path.join(index_path, "lists"))
        .withColumn("list_id", F.col("list_id").cast("long"))
        .filter(F.col("list_id").isin(probed_ids))
    )
    if tombstone_path is not None:
        from paas_auditor_spark.operators.atomic import (
            anti_join_tombstones,
            tombstone_ids,
        )

        lists = anti_join_tombstones(
            lists, tombstone_ids(spark, tombstone_path), "c_id"
        )
    scored = (
        lists.withColumnRenamed("list_id", "centroid_id")
        .join(F.broadcast(probes), on="centroid_id")
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            F.round(
                dot(F.col("q_v"), _to_double(F.col("c_vec")))
                / (F.col("q_n") * F.col("c_n")),
                round_digits,
            ).alias("cos_sim"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def semantic_dedup(
    corpus_df: DataFrame,
    k: int = 8,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): coarse-cluster the
    embeddings, then prune near-duplicates WITHIN each cluster only.

    The cluster step is what makes semantic dedup tractable: the pairwise
    space shrinks from n² to Σ|cluster|², and clusters are the natural
    unit of parallelism.  Centroids here are the first ``k`` corpus
    vectors by id (deterministic, the same coarse-quantizer convention as
    ``ivf_topk``; a k-means fit slots in unchanged — k grows with the
    corpus so cluster sizes stay bounded).

    Keep rule (deterministic, greedy-by-id): a vector is KEPT iff no
    same-cluster vector with a smaller id has rounded cosine ≥
    ``threshold`` to it.  This is the paper's "keep one example per
    ε-ball" with lowest-id standing in for their random representative —
    reproducible, and expressible in ANSI SQL for the oracle.

    Returns (vec_id, cluster_id, cos_to_centroid, keep) for every input
    vector.  Scale shape — ONE corpus shuffle total: centroids arrive
    from a k-row bounded collect, assignment is the shared Arrow matmul
    (narrow map, no window; the winning centroid's output cosine is
    re-computed JVM-side for exact oracle parity), then the cluster
    groupBy feeds a per-cluster
    ``applyInPandas`` that computes the within-cluster pairwise prune as
    blocked numpy matmuls.  The earlier relational formulation (cluster
    self-join + rounded-cosine filter) shuffles the corpus twice and
    evaluates Σ|cluster|² interpreted 64-dim dot products — measured
    ~2.5 s vs ~1 s for this shape at sf0.1; this is the documented
    "Python only where vectorization beats built-ins" exception, same as
    the LSH bucket verify.  Per-task memory is bounded by the largest
    cluster (rows × dim doubles; scores are computed in row blocks,
    never a full |cluster|² matrix) — raise k for skewed corpora,
    exactly the SemDeDup contract.
    """
    cent_rows = _cent_rows_collect(corpus_df, k, id_col, vec_col)
    # winner by ROUNDED cosine via the Arrow matmul (the assignment
    # convention — a HOF argmin interprets O(k·dim) work per row, the
    # 138-s-at-64-lists lesson from nearest_lists_udf, and k now scales
    # with the corpus); the OUTPUT cosine is computed JVM-side on the
    # winning centroid only, so cos_to_centroid keeps the exact
    # round()/fold arithmetic the oracle replays — numpy only RANKS, it
    # never produces a compared value
    best_cid = _nearest_rounded_udf(cent_rows, round_digits)
    spark = corpus_df.sparkSession
    cents_rel = spark.createDataFrame(
        [
            # python sum() = the same sequential fold as l2_norm, so
            # the output expression's cnrm is bit-identical to the
            # relational path's
            (int(i), [float(x) for x in v], math.sqrt(sum(x * x for x in v)))
            for i, v in cent_rows
        ],
        "cluster_id long, cv array<double>, cnrm double",
    )
    assigned = (
        fan_out(
            corpus_df.select(
                F.col(id_col), _to_double(F.col(vec_col)).alias("v")
            )
        )
        .withColumn("nrm", l2_norm(F.col("v")))
        .withColumn("cluster_id", F.explode(best_cid(F.col("v"))))
        .join(F.broadcast(cents_rel), "cluster_id")
        .select(
            id_col,
            "v",
            "nrm",
            "cluster_id",
            F.round(
                dot(F.col("v"), F.col("cv"))
                / (F.col("nrm") * F.col("cnrm")),
                round_digits,
            ).alias("cos_to_centroid"),
        )
    )

    id_type = corpus_df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{id_col} {id_type}, cluster_id bigint, "
        "cos_to_centroid double, keep boolean"
    )

    def cluster_prune(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        cids = pdf["cluster_id"].to_numpy()[order]
        csim = pdf["cos_to_centroid"].to_numpy()[order]
        nrm = pdf["nrm"].to_numpy()[order]
        nrm = np.where(nrm == 0.0, np.nan, nrm)  # zero vectors never shadow
        m = np.vstack(pdf["v"].to_numpy()[order]) / nrm[:, None]
        n = len(ids)
        shadowed = np.zeros(n, dtype=bool)
        block = 1024  # peak memory: block × |cluster| scores
        for lo in range(0, n, block):
            hi = min(lo + block, n)
            hits = np.round(m[lo:hi] @ m.T, round_digits) >= threshold
            ii = np.arange(lo, hi)[:, None]
            jj = np.arange(n)[None, :]
            shadowed |= (hits & (ii < jj)).any(axis=0)
        return pd.DataFrame(
            {
                id_col: ids,
                "cluster_id": cids,
                "cos_to_centroid": csim,
                "keep": ~shadowed,
            }
        )

    return (
        assigned.groupBy("cluster_id")
        .applyInPandas(cluster_prune, out_schema)
        .orderBy(id_col)
    )


def _pq_sample_rows(corpus_df, n_centroids, id_col, vec_col):
    """The bounded training collect shared by the in-memory and
    persisted IVF-PQ paths: first max(256, n_centroids) vectors by id —
    sample size fixed regardless of corpus cardinality."""
    sample_n = max(256, n_centroids)
    return sorted(
        (
            (r[0], list(r[1]))
            for r in corpus_df.select(
                F.col(id_col), _to_double(F.col(vec_col))
            )
            .orderBy(id_col)
            .limit(sample_n)
            .collect()
        ),
        key=lambda t: t[0],
    )


def _pq_recon_sql(books, m: int) -> str:
    """Per-subspace codebook-row lookup over a ``pq_codes`` column, one
    parsed expression; shared by both IVF-PQ paths."""
    from paas_auditor_spark.functions.exprs import sql_doubles_2d

    return (
        "flatten(array("
        + ",".join(
            f"element_at({sql_doubles_2d(books[j])},"
            f" element_at(pq_codes, {j + 1}) + 1)"
            for j in range(m)
        )
        + "))"
    )


def ivfpq_index_write(
    corpus_df: DataFrame,
    path: str,
    n_centroids: int = 8,
    m: int = 4,
    codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the FAISS-style IVF-PQ index ``ivfpq_topk``'s
    docstring promises: the LISTS table stores only (c_id, c_n,
    pq_codes) partitioned by list_id — m bytes of code per vector
    instead of dim×4 of floats — and the full vectors live in a
    separate id-keyed table touched only by the exact re-rank fetch.
    Four artifacts under ``path``:

      lists/      (c_id, c_n, pq_codes)  PARTITIONED BY list_id
      vectors/    (c_id, vec)            the re-rank fetch store
      centroids/  (centroid_id, cv)      n_centroids rows
      codebooks/  (j, code, sub)         m × codes rows

    Training (PQ codebooks + IVF centroids) reuses the same bounded
    256-row sample collect as the in-memory operator, so a probe over
    this index returns EXACTLY ivfpq_topk's frame (test-pinned)."""
    import os

    import numpy as np

    from paas_auditor_spark.operators.quantize import (
        pq_assign,
        pq_train_arrays,
    )

    rows = _pq_sample_rows(corpus_df, n_centroids, id_col, vec_col)
    books = pq_train_arrays(
        np.array([v for _, v in rows], dtype=np.float64), m=m, k=codes
    )
    cent_rows = rows[:n_centroids]
    spark = corpus_df.sparkSession

    # ONE materialization feeds both the lists and the vectors writes:
    # without the cut the corpus is scanned twice, and a
    # nondeterministic corpus_df could make the two relations disagree
    cvec = (
        corpus_df.select(
            F.col(id_col).alias("c_id"),
            _to_double(F.col(vec_col)).alias("c_v"),
        )
        .withColumn("c_n", l2_norm(F.col("c_v")))
        .localCheckpoint(eager=False)
    )
    assigned = cvec.withColumn(
        "list_id", F.explode(nearest_lists_udf(cent_rows, 1)(F.col("c_v")))
    )
    encoded = pq_assign(assigned, books, vec_col="c_v")
    encoded.select("c_id", "c_n", "pq_codes", "list_id").write.mode(
        "overwrite"
    ).partitionBy("list_id").parquet(os.path.join(path, "lists"))
    cvec.select("c_id", F.col("c_v").alias("vec")).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "vectors"))
    spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in cent_rows],
        "centroid_id long, cv array<double>",
    ).write.mode("overwrite").parquet(os.path.join(path, "centroids"))
    spark.createDataFrame(
        [
            (j, c, [float(x) for x in books[j][c]])
            for j in range(m)
            for c in range(len(books[j]))
        ],
        "j int, code int, sub array<double>",
    ).write.mode("overwrite").parquet(os.path.join(path, "codebooks"))


def _read_ivfpq_model(spark, index_path: str):
    """Bounded read-back of a persisted IVF-PQ model: (cent_rows, books,
    m) from two tiny parquet collects (n_centroids and m×codes rows)."""
    import os

    cents = _cent_rows_from_df(
        read_parquet_cached(spark, os.path.join(index_path, "centroids"))
    )
    book_rows = read_parquet_cached(spark, 
        os.path.join(index_path, "codebooks")
    ).collect()
    m = 1 + max(int(r["j"]) for r in book_rows)
    books = [
        [
            list(r["sub"])
            for r in sorted(
                (r for r in book_rows if r["j"] == j),
                key=lambda r: int(r["code"]),
            )
        ]
        for j in range(m)
    ]
    return cents, books, m


def ivfpq_topk_persisted(
    spark,
    index_path: str,
    queries_df: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    rerank: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
    tombstone_path: str | None = None,
) -> DataFrame:
    """Probe-only IVF-PQ top-k over an ``ivfpq_index_write`` index —
    the 100 TB serving shape made literal: centroids and codebooks come
    back via two bounded collects (n_centroids and m×codes rows) and
    re-enter the plan as parsed literals; the code-only LISTS table is
    scanned with a STATIC list_id partition filter (probed ids are a
    ≤ n_centroids-row collect, so pruning happens at planning time);
    PQ reconstruction + ADC ranking are narrow maps over those m-byte
    codes; and ONLY the per-query ``rerank`` shortlist joins the
    full-vector store by id for the exact re-score — the scan that
    reads floats is shortlist-sized, never corpus-sized.  Output is
    bit-identical to ``ivfpq_topk`` (shared literal builders,
    test-pinned)."""
    import os

    cents, books, m = _read_ivfpq_model(spark, index_path)

    # localCheckpoint: same dual-consumer contract as ivf_topk_persisted
    # — the probed-ids collect and the broadcast join must read ONE
    # materialization of the assignment, or a nondeterministic
    # queries_df could desynchronize the static partition filter from
    # the in-plan probes
    probes = (
        queries_df.select(
            F.col(id_col).alias("q_id"),
            _to_double(F.col(vec_col)).alias("q_v"),
        )
        .withColumn("q_n", l2_norm(F.col("q_v")))
        .withColumn(
            "centroid_id",
            F.explode(nearest_lists_udf(cents, nprobe)(F.col("q_v"))),
        )
    ).localCheckpoint(eager=False)
    # bounded collect: ≤ n_centroids distinct probed lists → static
    # partition filter on the code-only lists table
    probed_ids = [
        r["centroid_id"]
        for r in probes.select("centroid_id").distinct().collect()
    ]
    lists = (
        read_parquet_cached(spark, os.path.join(index_path, "lists"))
        .withColumn("list_id", F.col("list_id").cast("long"))
        .filter(F.col("list_id").isin(probed_ids))
    )
    if tombstone_path is not None:
        # same deletion contract as ivf_topk_persisted: candidates
        # anti-joined, frozen quantizer/codebooks untouched; an excluded
        # candidate can never reach the rerank shortlist, so the single
        # anti-join covers both tiers
        from paas_auditor_spark.operators.atomic import (
            anti_join_tombstones,
            tombstone_ids,
        )

        lists = anti_join_tombstones(
            lists, tombstone_ids(spark, tombstone_path), "c_id"
        )
    lists = lists.withColumnRenamed("list_id", "centroid_id")
    approx = lists.select(
        "c_id",
        "c_n",
        "centroid_id",
        F.expr(_pq_recon_sql(books, m)).alias("rv"),
    ).withColumn("rn_norm", l2_norm(F.col("rv")))
    cand = (
        approx.join(F.broadcast(probes), on="centroid_id")
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            "c_n",
            "q_v",
            "q_n",
            # ADC rounded to 9dp BEFORE the rerank cut:
            # unrounded ranking makes shortlist membership a cliff — a
            # 1-ulp cross-engine difference at candidate 32/33 would
            # rerank different sets; at 9dp near-equal values tie
            # EXACTLY and break by neighbor id on both engines, and a
            # 1e-9 ordering grain is far below any recall-relevant gap
            F.round(
                dot(F.col("q_v"), F.col("rv"))
                / (
                    F.col("q_n")
                    * F.greatest(F.col("rn_norm"), F.lit(1e-12))
                ),
                9,
            ).alias("adc_sim"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("adc_sim").desc(), F.col("neighbor_id").asc()
    )
    shortlist = cand.withColumn("adc_rank", F.row_number().over(wq)).filter(
        F.col("adc_rank") <= rerank
    )
    # the only touch of full float vectors: an id join sized
    # rerank × |queries|, never the corpus
    vectors = read_parquet_cached(spark, os.path.join(index_path, "vectors"))
    rescored = shortlist.join(
        vectors.withColumnRenamed("c_id", "neighbor_id"), on="neighbor_id"
    ).select(
        "query_id",
        "neighbor_id",
        F.round(
            dot(F.col("q_v"), F.col("vec")) / (F.col("q_n") * F.col("c_n")),
            round_digits,
        ).alias("cos_sim"),
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def ivfpq_topk(
    corpus_df: DataFrame,
    queries_df: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 2,
    m: int = 4,
    codes: int = 16,
    rerank: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """IVF-PQ approximate top-k (the FAISS IVFPQ shape): an IVF probe
    restricts candidates to ``nprobe`` inverted lists, a product-quantized
    approximation ranks them cheaply, and only the ``rerank`` best per
    query are re-scored against true vectors.

    The PQ stage is asymmetric-distance-by-reconstruction: each corpus
    vector's m byte-codes decode (via the literal codebooks — a narrow
    map, no join) to an approximate vector, and candidate ranking uses
    cosine(query, reconstruction).  That is numerically identical to the
    classic ADC lookup-table formulation but stays entirely inside JVM
    expressions.  At 100 TB the corpus stores ONLY (list_id, pq_codes) —
    m bytes per vector instead of dim×4 — and full vectors are fetched
    (join on id) for just rerank×|queries| rows.

    IVF assignment is a pure narrow map: the ``n_centroids`` centroid
    vectors are collected (bounded, the same k-row driver convention as
    ``kmeans_assign``) and ride into the plan as ONE nested array
    literal; per row an ``array_sort`` over the k (−sim, idx) structs
    picks the nearest list(s).  No window, no shuffle for assignment —
    the only shuffles in the whole query are the two per-query top-k
    windows (shortlist + final re-rank).

    Approximate as an ANN answer, deterministic as a computation: the
    registry entry carries a FULL exact oracle (the pipeline is
    a composition of closed forms — see queries._oracle_ivfpq_topk);
    recall vs the exact baseline is additionally pinned by
    test_similarity.py.
    """
    # math imported at module level

    import numpy as np

    from paas_auditor_spark.operators.quantize import (
        pq_assign,
        pq_train_arrays,
    )

    # ONE bounded collect feeds both models: the PQ training sample is
    # the first 256 vectors by id and the IVF centroids are the first
    # n_centroids — a prefix of the same rows (the documented bounded-
    # sample exception, same convention as the kmeans iteration barrier)
    rows = _pq_sample_rows(corpus_df, n_centroids, id_col, vec_col)
    books = pq_train_arrays(
        np.array([v for _, v in rows], dtype=np.float64), m=m, k=codes
    )
    cent_rows = rows[:n_centroids]

    # corpus side: list assignment + PQ codes + reconstruction — all
    # narrow maps over the scan (assignment is the shared Arrow-batched
    # matmul; codebooks ride in as parsed literals)
    cvec = fan_out(
        corpus_df.select(
            F.col(id_col).alias("c_id"),
            _to_double(F.col(vec_col)).alias("c_v"),
        )
    ).withColumn("c_n", l2_norm(F.col("c_v")))
    assigned = cvec.withColumn(
        "centroid_id",
        F.explode(nearest_lists_udf(cent_rows, 1)(F.col("c_v"))),
    )
    encoded = pq_assign(assigned, books, vec_col="c_v")
    # decode = per-subspace codebook row lookup, one parsed expression
    recon_sql = _pq_recon_sql(books, m)
    approx = encoded.select(
        "c_id", "c_v", "c_n", "centroid_id", F.expr(recon_sql).alias("rv")
    ).withColumn("rn_norm", l2_norm(F.col("rv")))

    probes = (
        queries_df.select(
            F.col(id_col).alias("q_id"),
            _to_double(F.col(vec_col)).alias("q_v"),
        )
        .withColumn("q_n", l2_norm(F.col("q_v")))
        .withColumn(
            "centroid_id",
            F.explode(nearest_lists_udf(cent_rows, nprobe)(F.col("q_v"))),
        )
    )
    # every corpus vector lives in exactly ONE list and a query probes
    # each list at most once, so (q, c) candidate pairs are unique by
    # construction — no dropDuplicates shuffle needed
    cand = (
        approx.join(F.broadcast(probes), on="centroid_id")
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            "c_v",
            "c_n",
            "q_v",
            "q_n",
            # ADC rounded to 9dp BEFORE the rerank cut:
            # unrounded ranking makes shortlist membership a cliff — a
            # 1-ulp cross-engine difference at candidate 32/33 would
            # rerank different sets; at 9dp near-equal values tie
            # EXACTLY and break by neighbor id on both engines, and a
            # 1e-9 ordering grain is far below any recall-relevant gap
            F.round(
                dot(F.col("q_v"), F.col("rv"))
                / (
                    F.col("q_n")
                    * F.greatest(F.col("rn_norm"), F.lit(1e-12))
                ),
                9,
            ).alias("adc_sim"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("adc_sim").desc(), F.col("neighbor_id").asc()
    )
    shortlist = cand.withColumn("adc_rank", F.row_number().over(wq)).filter(
        F.col("adc_rank") <= rerank
    )
    # exact re-rank of the shortlist only (true vectors already rode
    # along here; at scale this is the id-join fetch described above)
    rescored = shortlist.select(
        "query_id",
        "neighbor_id",
        F.round(
            dot(F.col("q_v"), F.col("c_v")) / (F.col("q_n") * F.col("c_n")),
            round_digits,
        ).alias("cos_sim"),
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def kmeans_assign(
    corpus_df: DataFrame,
    k: int = 8,
    max_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Lloyd's k-means (euclidean), returning (id, cluster_id, dist2).

    The second iterative algorithm in the engine (with
    dedup.connected_components): init = first ``k`` corpus vectors
    (deterministic, the same coarse-quantizer convention as ivf_topk), then
    ``max_iter`` rounds of assign → re-center.

    Scale shape per iteration: one broadcast join against the k-row
    centroid set + windowed argmin for assignment (narrow w.r.t. the
    corpus), then posexplode → groupBy (cluster, dim) average for the new
    centroids — map-side partial aggregation makes the shuffle k×dim rows
    regardless of corpus size.  Centroids are collected to the driver
    between rounds (k×dim doubles — trivially small), which also acts as
    the per-iteration lineage cut.
    """
    from paas_auditor_spark.functions.exprs import let, lit_doubles

    base = corpus_df.select(
        F.col(id_col).alias("kid"), _to_double(F.col(vec_col)).alias("kv")
    )
    cents: list[tuple[int, list[float]]] = [
        (r["kid"], list(r["kv"]))
        for r in base.filter(F.col("kid") < k).collect()
    ]

    def assign(cent_list) -> DataFrame:
        # Centroids ride into the plan as literals (k×dim doubles — the
        # "broadcast" is the expression tree itself), so assignment is a
        # pure narrow map: argmin via array_min over k (partial_dist, cid)
        # structs.  ||v||² is constant per row and dropped from the
        # ranking: partial = ||c||² − 2·v·c, with ||c||² precomputed in
        # Python.  Struct ordering gives the cid tiebreak for free.
        def best_of(kv: Column) -> Column:
            candidates = F.array(
                *[
                    F.struct(
                        (
                            F.lit(sum(x * x for x in cv))
                            - 2 * dot(kv, lit_doubles(cv))
                        ).alias("partial"),
                        F.lit(int(cid)).alias("cid"),
                    )
                    for cid, cv in cent_list
                ]
            )
            best = F.array_min(candidates)
            return F.struct(
                best["cid"].alias("cluster_id"),
                (best["partial"] + dot(kv, kv)).alias("dist2"),
            )

        return base.select("kid", "kv", let(F.col("kv"), best_of).alias("b"))

    for _ in range(max_iter):
        assigned = assign(cents)
        # re-center: posexplode → per-(cluster, dim) mean — map-side
        # partial aggregation shrinks the shuffle to k×dim rows regardless
        # of corpus size; k rows collected to the driver per round (the
        # iteration barrier and lineage cut)
        new_cents = (
            assigned.select(
                F.col("b")["cluster_id"].alias("cluster_id"),
                F.posexplode("kv").alias("pos", "x"),
            )
            .groupBy("cluster_id", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cluster_id")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("m")))
                    ),
                    lambda s: s["m"],
                ).alias("cv")
            )
        )
        # re-centered coordinates are rounded to 9dp at the iteration
        # barrier: the mean's float summation order is engine-specific
        # in the last ~1e-13, and over iterations that ulp noise can
        # flip a near-tie assignment — rounding far above the noise
        # floor but far below any geometric signal makes every round's
        # centroids (and therefore the whole trajectory) an exact
        # cross-engine closed form, which is what lets q_kmeans carry a
        # full unrolled SQL oracle instead of a rows-only check
        cents = [
            (r["cluster_id"], [round(x, 9) for x in r["cv"]])
            for r in new_cents.collect()
        ]

    final = assign(cents)
    return final.select(
        F.col("kid").alias(id_col),
        F.col("b")["cluster_id"].alias("cluster_id"),
        F.round(F.col("b")["dist2"], round_digits).alias("dist2"),
    )


def projection_signs(dim: int = 64, out_dim: int = 8) -> list[list[float]]:
    """Deterministic ±1 (Achlioptas-style) projection matrix, one row per
    OUTPUT dimension.  Seeded per row like ``_plane_coeffs`` (a fixed
    public seed advanced per element — an arithmetic parity formula like
    (i·31+j·17) mod 2 looks deterministic but collapses to parity(i+j),
    i.e. a rank-2 matrix).  Re-checkers reproduce it from the same seed
    or embed the literal rows (the SQL oracle does the latter)."""
    import random

    out = []
    for j in range(out_dim):
        rng = random.Random(0x1337BEEF + j)
        out.append([1.0 if rng.random() < 0.5 else -1.0 for _ in range(dim)])
    return out


def random_projection(
    df: DataFrame,
    out_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    round_digits: int = 4,
) -> DataFrame:
    """Johnson–Lindenstrauss random projection: dim → ``out_dim`` with a
    deterministic ±1 sign matrix (Achlioptas 2003 shows ±1 entries give
    the same distance-preservation guarantee as Gaussians at a third of
    the multiplies).  The dimensionality-reduction front-end for ANN /
    clustering at corpus scale: 64→8 doubles cuts downstream shuffle and
    memory 8× while preserving pairwise distances within the JL bound.

    Scale shape: each output dim is one JVM-side ``zip_with``+``aggregate``
    dot against a parsed SQL literal (no py4j element round-trips, see
    ``exprs.sql_doubles``) — a pure narrow map, zero shuffle, perfectly
    partition-parallel at 100 TB.  Sequential left-to-right summation
    makes every engine that evaluates the same order bit-identical.
    """
    from paas_auditor_spark.functions.exprs import lit_doubles

    v = _to_double(F.col(vec_col))
    outs = [
        F.round(dot(v, lit_doubles(row)), round_digits).alias(f"rp_{j}")
        for j, row in enumerate(projection_signs(dim, out_dim))
    ]
    return df.select(F.col(id_col), *outs)


def mmr_select(
    cand_df: DataFrame,
    query_vec: list,
    k: int = 5,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance subset selection (Carbonell &
    Goldstein, SIGIR 1998): greedily pick ``k`` items maximizing

        λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)

    with rel/sim both cosine — the diversity-aware data-selection step
    (dedup picks ONE of near-identical items; MMR additionally spreads
    the survivors across the embedding space).  The argmax each round is
    on the score ROUNDED to 4dp with ties to the lowest id, so the
    greedy trajectory is engine-independent and an unrolled-CTE oracle
    can replay it exactly.

    Returns (select_rank, id, score) — k rows.

    Scale shape (the k-means discipline): relevance is ONE narrow pass
    over the candidates (query vector embedded as a SQL literal), reused
    from a ``localCheckpoint`` across rounds; each round adds one
    max-sim term against the newly selected vector — also a literal, so
    scoring stays a narrow map with a TakeOrderedAndProject top-1, no
    join, no shuffle of the candidate set, ever.  Each pick is a 1-row
    driver action (bounded, like cursor reads); k rounds are inherently
    stage-serial.
    """
    from paas_auditor_spark.functions.exprs import sql_doubles

    q = F.expr(sql_doubles([float(x) for x in query_vec]))
    base = (
        cand_df.select(
            F.col(id_col).alias("id"), _to_double(F.col(vec_col)).alias("v")
        )
        .withColumn("rel", cosine(F.col("v"), q))
        .localCheckpoint(eager=False)
    )
    picked: list[tuple] = []  # (rank, id, score, vec)
    for r in range(1, k + 1):
        if picked:
            sims = [
                cosine(F.col("v"), F.expr(sql_doubles(vec)))
                for _, _, _, vec in picked
            ]
            max_sim = sims[0] if len(sims) == 1 else F.greatest(*sims)
            score = F.lit(lam) * F.col("rel") - F.lit(1.0 - lam) * max_sim
        else:
            score = F.lit(lam) * F.col("rel")
        rows = (
            base.filter(~F.col("id").isin([p[1] for p in picked]))
            # a zero-norm query or candidate divides to NULL cosine —
            # exclude those rows instead of collecting a NULL score
            .select("id", "v", F.round(score, 4).alias("score"))
            .filter(F.col("score").isNotNull())
            .orderBy(F.col("score").desc(), F.col("id").asc())
            .limit(1)
            .collect()
        )
        if not rows:  # k exceeds the scoreable candidates: return what exists
            break
        row = rows[0]
        picked.append((r, row["id"], float(row["score"]), list(row["v"])))
    spark = cand_df.sparkSession
    id_type = cand_df.schema[id_col].dataType.simpleString()
    return spark.createDataFrame(
        [(r, i, s) for r, i, s, _ in picked],
        f"select_rank long, {id_col} {id_type}, score double",
    )


__all__ = [
    "brute_force_topk",
    "cosine",
    "dot",
    "embedding_near_duplicates",
    "embedding_near_duplicates_lsh",
    "hyperplane_bucket",
    "ivf_auto_params",
    "ivf_index_write",
    "ivf_topk",
    "ivf_topk_persisted",
    "ivfpq_index_write",
    "ivfpq_topk",
    "ivfpq_topk_persisted",
    "kmeans_assign",
    "l2_norm",
    "lsh_bucket_keys_udf",
    "nearest_lists_udf",
    "lsh_topk",
    "mmr_select",
    "semantic_dedup",
]
