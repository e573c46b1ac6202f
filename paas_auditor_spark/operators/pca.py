"""PCA for embedding columns: distributed covariance, driver-side
eigendecomposition over the bounded d×d matrix, literal-matrix
projection.

The data-dependent complement to ``similarity.random_projection`` (JL):
random projection preserves distances obliviously; PCA concentrates the
directions this corpus actually varies in, so the same output dimension
captures strictly more variance — the standard front-end for whitening,
visualization, and ANN pre-reduction.

Scale design: the covariance needs O(n·d²) multiplies no matter who
computes it; here each PARTITION accumulates its partial gram matrix as
numpy ``Xᵀ·X`` per Arrow batch and emits ≤ d(d+3)/2 sufficient-statistic
rows, and one groupBy reduces the P·d²-ish partials — the only shuffle,
carrying (i, j, partial sums), never vectors or per-row terms.  The
eigendecomposition happens on the DRIVER over the collected d×d matrix:
a bounded O(d²) collect (d=64 → 2080 rows), the documented
bounded-collect convention (PQ codebooks, k-means centroids) — the
corpus never moves.  The projection re-enters the plan as a parsed
literal matrix (``exprs.sql_doubles_2d`` — one expression, no py4j
per-element round trips) applied in a narrow map.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paas_auditor_spark.functions.exprs import sql_doubles, sql_doubles_2d

__all__ = ["covariance_matrix", "pca_project"]


def _sums(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """(i, j, Σ term, n) sufficient statistics for the covariance —
    j = 0 rows carry the mean sums, j ≥ i the upper-triangle product
    sums (1-based).

    Shape: each partition accumulates its PARTIAL GRAM MATRIX as
    one numpy ``Xᵀ·X`` per Arrow batch and emits ≤ d(d+3)/2 rows total
    (mapInPandas over the whole partition iterator), so the reduce
    shuffles P·d²-ish rows — a cluster constant.  An expression form
    explodes d(d+3)/2 STRUCTS PER INPUT ROW (2 144 at d=64 — 430M
    exploded rows at the 100×-rehearsal corpus, measured 23.8× wall),
    the covariance twin of the IVF-assignment lesson:
    per-row O(d²) interpreted work belongs in one BLAS call.  Summation
    regroups (per-batch matmul partials vs one global fold), which is
    inside the 4dp rounding every consumer applies — the same
    cross-engine argument the oracle match already relies on."""
    import numpy as np
    import pandas as pd

    # rows with NULL ELEMENTS or off-dimension arrays are excluded up
    # front: Arrow hands a null element to numpy as NaN, which one gram
    # update would spread into every (i, j) sum — an all-NaN covariance
    # and a LinAlgError out of eigh — and a ragged length crashes
    # np.vstack.  The defined contract: the statistics cover exactly the
    # complete dim-wide vectors.
    base = (
        df.where(F.col(vec_col).isNotNull())
        .select(F.col(vec_col).cast("array<double>").alias("v"))
        .where(
            (F.size("v") == dim)
            & ~F.exists("v", lambda x: x.isNull())
        )
    )
    iu, ju = np.triu_indices(dim)

    def partial_gram(batches):
        gram = np.zeros((dim, dim))
        col = np.zeros(dim)
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.vstack(pdf["v"].to_numpy())
            gram += m.T @ m
            col += m.sum(axis=0)
            n += len(m)
        if n == 0:
            return
        yield pd.DataFrame(
            {
                "i": np.concatenate([np.arange(1, dim + 1), iu + 1]),
                "j": np.concatenate([np.zeros(dim, dtype=int), ju + 1]),
                "sxy": np.concatenate([col, gram[iu, ju]]),
                "n": n,
            }
        )

    partials = base.mapInPandas(
        partial_gram, schema="i int, j int, sxy double, n long"
    )
    return partials.groupBy("i", "j").agg(
        F.sum("sxy").alias("sxy"), F.sum("n").alias("n")
    )


def covariance_matrix(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    round_digits: int | None = 4,
) -> DataFrame:
    """Population covariance of a ``dim``-wide vector column as
    (i, j, cov) upper-triangle rows (1-based, j ≥ i):
    cov(i,j) = Σx_i·x_j / n − mean_i·mean_j.  Means, products and the
    row count all ride ONE scan + ONE reduce (the j = 0 rows carry the
    mean sums); the two mean joins are ≤ dim-row broadcasts.  Rounded
    for cross-engine comparison unless ``round_digits`` is None (the
    eigendecomposition path wants full precision)."""
    sums = _sums(df, vec_col, dim)
    means = sums.where(F.col("j") == 0).select(
        F.col("i").alias("mi_idx"), (F.col("sxy") / F.col("n")).alias("m")
    )
    cov = (
        sums.where(F.col("j") > 0)
        .join(
            F.broadcast(means.withColumnRenamed("mi_idx", "i_key")),
            F.col("i") == F.col("i_key"),
        )
        .withColumnRenamed("m", "mi")
        .drop("i_key")
        .join(
            F.broadcast(
                means.select(
                    F.col("mi_idx").alias("j_key"), F.col("m").alias("mj")
                )
            ),
            F.col("j") == F.col("j_key"),
        )
        .select(
            F.col("i").cast("long").alias("i"),
            F.col("j").cast("long").alias("j"),
            (F.col("sxy") / F.col("n") - F.col("mi") * F.col("mj")).alias(
                "cov"
            ),
        )
    )
    if round_digits is not None:
        cov = cov.select(
            "i", "j", F.round("cov", round_digits).alias("cov")
        )
    return cov.orderBy("i", "j")


def pca_project(
    df: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    round_digits: int = 4,
) -> DataFrame:
    """Project onto the top-``k`` principal components: centred dot
    products against the covariance's leading eigenvectors.

    Eigenvectors come from ``numpy.linalg.eigh`` on the driver over the
    collected d×d covariance (bounded O(d²) collect, never data-sized);
    each is sign-normalized (largest-|entry| coordinate made positive)
    so the component basis is deterministic — eigh only fixes vectors
    up to sign.  Components ride back into the plan as ONE parsed
    literal matrix; the projection is a narrow JVM map.  Rows-only at
    the driver (eigensolver bit-patterns are library-specific); the
    variance-capture and numpy-parity contracts are pytest-pinned."""
    import numpy as np

    # ONE bounded collect of the sums relation (≤ d² + d rows): the
    # j = 0 rows reconstruct the means, the rest the covariance
    rows = _sums(df, vec_col, dim).collect()
    mean = np.zeros(dim)
    cov = np.zeros((dim, dim))
    for r in rows:
        if r["j"] == 0:
            mean[r["i"] - 1] = r["sxy"] / r["n"]
    for r in rows:
        if r["j"] > 0:
            c = r["sxy"] / r["n"] - mean[r["i"] - 1] * mean[r["j"] - 1]
            cov[r["i"] - 1, r["j"] - 1] = c
            cov[r["j"] - 1, r["i"] - 1] = c
    vals, vecs = np.linalg.eigh(cov)  # ascending eigenvalues
    order = np.argsort(vals)[::-1][:k]
    comps = []
    for idx in order:
        w = vecs[:, idx]
        if w[int(np.argmax(np.abs(w)))] < 0:
            w = -w
        comps.append([float(x) for x in w])
    mean_lit = F.expr(sql_doubles([float(m) for m in mean]))
    w_lit = F.expr(sql_doubles_2d(comps))
    centred = F.zip_with(
        F.col(vec_col).cast("array<double>"), mean_lit, lambda x, m: x - m
    )
    out_cols = [
        F.round(
            F.aggregate(
                F.zip_with(
                    centred,
                    F.element_at(w_lit, c + 1),
                    lambda x, w: x * w,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            round_digits,
        ).alias(f"pc_{c}")
        for c in range(k)
    ]
    return (
        df.where(F.col(vec_col).isNotNull())
        .select(id_col, *out_cols)
        .orderBy(id_col)
    )
