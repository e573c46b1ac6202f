"""Scalar (int8) embedding quantization with reconstruction diagnostics.

At 100 TB an `array<float>` embedding column dominates storage and
shuffle width; per-vector symmetric int8 quantization (the FAISS ``SQ8``
shape) cuts it 4× while keeping ANN recall high.  Everything here is JVM
higher-order functions over the array column — a narrow map, no shuffle,
no Python:

- ``scale(v)   = max(|v_i|) / 127``  (per-vector symmetric range)
- ``codes(v)   = round(v_i / scale)``  (int8-representable -127..127)
- ``recon(c,s) = c_i * s``

``reconstruction_report`` aggregates per-label quantization quality —
mean L2 reconstruction error and mean cosine(original, reconstructed) —
the drift numbers a curation pipeline tracks before switching its ANN
index to quantized vectors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from paas_auditor_spark.operators.similarity import _to_double


def sq8_scale(vec: Column) -> Column:
    """Per-vector symmetric scale; floor of 1e-12 keeps zero vectors
    finite."""
    absmax = F.array_max(F.transform(_to_double(vec), F.abs))
    return F.greatest(absmax, F.lit(1e-12)) / F.lit(127.0)


def sq8_codes(vec: Column, scale: Column) -> Column:
    """int8 code array: round(v/scale), in [-127, 127]."""
    return F.transform(
        _to_double(vec), lambda x: F.round(x / scale).cast("int")
    )


def sq8_reconstruct(codes: Column, scale: Column) -> Column:
    return F.transform(codes, lambda c: c.cast("double") * scale)


def quantize(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Add ``sq_scale`` and ``sq_codes`` columns (narrow map)."""
    scale = sq8_scale(F.col(vec_col))
    return df.withColumn("sq_scale", scale).withColumn(
        "sq_codes", sq8_codes(F.col(vec_col), F.col("sq_scale"))
    )


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def reconstruction_report(
    df: DataFrame, vec_col: str = "embedding", label_col: str = "label"
) -> DataFrame:
    """Per-label quantization quality: n, mean L2 error, mean cosine."""
    q = quantize(df, vec_col)
    v = _to_double(F.col(vec_col))
    r = sq8_reconstruct(F.col("sq_codes"), F.col("sq_scale"))
    err = F.sqrt(
        F.aggregate(
            F.zip_with(v, r, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, d: acc + d,
        )
    )
    # both norms floored: a zero vector yields cos≈0 instead of an ANSI
    # divide-by-zero (Spark 4 defaults to ansi.enabled=true)
    cos = _dot(v, r) / (
        F.sqrt(F.greatest(_dot(v, v), F.lit(1e-24)))
        * F.sqrt(F.greatest(_dot(r, r), F.lit(1e-24)))
    )
    return (
        q.select(label_col, err.alias("l2_err"), cos.alias("cos"))
        .groupBy(label_col)
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("l2_err"), 4).alias("avg_l2_err"),
            F.round(F.avg("cos"), 4).alias("avg_cosine"),
        )
    )


# --------------------------------------------------------------------------
# Product quantization (PQ): m sub-codebooks of k centroids each.
# Architecture mirrors FAISS: codebooks TRAIN on a bounded sample (driver-
# side numpy Lloyd's — O(sample), deterministic), and the corpus-sized work
# is pure narrow-map ASSIGNMENT with the codebooks inlined as expression
# literals (the same plan shape as similarity.kmeans_assign).  A d-dim
# float vector compresses to m byte-codes — 32x for d=64, m=8 — which is
# what makes a 100 TB embedding column shuffle/store-able.
# --------------------------------------------------------------------------


def _lloyd_numpy(X, k: int, iters: int):
    """Deterministic Lloyd's on the driver sample: init = first k rows.

    Centroids are rounded to 9 decimals at every iteration barrier — the
    kmeans_assign convention (operators/similarity.py) that makes the
    whole trajectory a CROSS-ENGINE CLOSED FORM: numpy-mean vs SQL-avg
    summation-order noise is ~1e-15, four orders below the rounding
    grain, so the DuckDB oracle replaying the same rounded recurrence
    reproduces every codebook bit-for-bit (what gives pq_codes an
    exact oracle rather than a rows-only check).  9dp is ~1e5× finer
    than any subspace distance that decides an assignment, so codes and
    recall are unaffected.

    Known asymmetry (documented deliberately): numpy's
    ``.round(9)`` is round-HALF-EVEN while the oracle's
    ``round(avg(..), 9)`` in DuckDB is half-AWAY-from-zero, and the two
    sides also use different distance forms (full (x−c)² here vs the
    ‖c‖²−2xc partial in SQL).  Both differences live strictly inside the
    same 'last ulp' channel the 9dp barrier exists to absorb: they can
    diverge only when a true mean sits within ~1e-15 of an exact
    half-at-9dp boundary (no committed corpus has one — the parity suite
    and the driver's hash gate would both fail loudly), so the barriers
    are NOT normalized to one rounding form; doing so would complicate
    both sides to close a channel four orders below the rounding grain."""
    import numpy as np

    C = X[:k].copy()
    for _ in range(iters):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d2.argmin(axis=1)
        for j in range(k):
            members = X[a == j]
            if len(members):
                C[j] = members.mean(axis=0).round(9)
    return C


def pq_train_arrays(X, m: int = 4, k: int = 16, iters: int = 4) -> list:
    """Train m per-subspace codebooks from an in-memory sample matrix
    (rows × dim float64).  Returns ``[m][k][dim/m]`` Python floats."""
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    return [
        _lloyd_numpy(X[:, j * sub : (j + 1) * sub].copy(), k, iters).tolist()
        for j in range(m)
    ]


def pq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    k: int = 16,
    iters: int = 4,
    sample_n: int = 256,
) -> list:
    """Train m per-subspace codebooks on the first ``sample_n`` vectors by
    id (deterministic; a seeded TABLESAMPLE slots in at scale).  Returns
    ``[m][k][dim/m]`` Python floats — a few KB collected to the driver,
    the documented exception to the no-collect rule (bounded sample, same
    convention as the kmeans iteration barrier)."""
    import numpy as np

    rows = (
        df.select(_to_double(F.col(vec_col)).alias("v"), F.col(id_col))
        .orderBy(id_col)
        .limit(sample_n)
        .collect()
    )
    X = np.array([r["v"] for r in rows], dtype=np.float64)
    return pq_train_arrays(X, m=m, k=k, iters=iters)


def pq_assign(
    df: DataFrame, codebooks: list, vec_col: str = "embedding"
) -> DataFrame:
    """Add ``pq_codes`` (array<int>, length m) and ``pq_err2`` (squared
    reconstruction error) — a pure narrow map, no shuffle, no Python.

    Per subspace the argmin keeps the kmeans_assign ranking trick —
    partial(c) = ||c||^2 - 2*sv.c ranks centroids without the
    row-constant ||sv||^2, array_min over (partial, code) structs gives
    the code tiebreak for free, and adding ||sv||^2 back yields the
    exact squared subspace error — but the whole per-subspace expression
    (codebook + centroid-norm literals included) is generated as ONE SQL
    string and parsed with a single ``F.expr``.  Same arithmetic; the
    construction cost drops from ~m·k·sub py4j round trips (one per
    ``F.lit``/Column call — whole seconds of plan-build latency) to m
    parse calls, and codegen sees a compact transform loop instead of a
    k·sub-term inlined tree (ivfpq at sf0.1: ~8× faster end-to-end)."""
    from paas_auditor_spark.functions.exprs import sql_doubles, sql_doubles_2d

    m = len(codebooks)
    sub = len(codebooks[0][0])
    k = len(codebooks[0])

    def best_sql(j: int) -> str:
        # the let()-trick (1-element-array transform) in SQL text: bind
        # the subvector once, then bind the argmin winner once
        cb = sql_doubles_2d(codebooks[j])
        norms = sql_doubles(sum(x * x for x in cv) for cv in codebooks[j])
        sv_bind = (
            f"slice(transform(`{vec_col}`, x -> CAST(x AS DOUBLE)),"
            f" {j * sub + 1}, {sub})"
        )
        dot_sv_sv = (
            "aggregate(zip_with(sv, sv, (x, y) -> x * y),"
            " CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
        )
        return f"""
        transform(array({sv_bind}), sv ->
          transform(array(array_min(transform(sequence(0, {k - 1}), c ->
            struct(
              element_at({norms}, c + 1)
                - CAST(2.0 AS DOUBLE) * aggregate(
                    zip_with(sv, element_at({cb}, c + 1), (x, y) -> x * y),
                    CAST(0.0 AS DOUBLE), (a, x) -> a + x) AS partial,
              CAST(c AS INT) AS code)))), best ->
            struct(best.code AS code,
                   best.partial + {dot_sv_sv} AS err2))[0]
        )[0]
        """

    parts = [F.expr(best_sql(j)).alias(f"_pq{j}") for j in range(m)]
    with_parts = df.select("*", *parts)
    codes = F.array(*[F.col(f"_pq{j}")["code"] for j in range(m)])
    err2 = sum(
        (F.col(f"_pq{j}")["err2"] for j in range(m)), F.lit(0.0)
    )
    return with_parts.select(
        *df.columns,
        codes.alias("pq_codes"),
        F.greatest(err2, F.lit(0.0)).alias("pq_err2"),
    )


def pq_report(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    m: int = 4,
    k: int = 16,
) -> DataFrame:
    """Per-label PQ quality: n, mean L2 reconstruction error, compression
    ratio (float32 bytes -> m byte-codes)."""
    books = pq_train(df, vec_col, id_col, m=m, k=k)
    dim = m * len(books[0][0])
    assigned = pq_assign(df, books, vec_col)
    return (
        assigned.groupBy(label_col)
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg(F.sqrt("pq_err2")), 4).alias("avg_l2_err"),
        )
        .withColumn("compression", F.lit(float(dim * 4) / m))
    )
