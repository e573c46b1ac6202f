"""Dataset statistics operators (the reference's informer surface).

- A1 latest event time with epoch default (reference store.go:289-308)
- A2 approximate row count from catalog statistics (store.go:310-329 —
  ``pg_class.reltuples``): re-expressed as a parquet-footer metadata count,
  which reads zero data pages (the honest Spark analog of a stats lookup).
- A3 exact count + max (RUNBOOK.md:59 ops query).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paas_auditor_spark.operators.cursor import EPOCH_TS


def latest_event_time(
    df: DataFrame, ts_col: str = "created_at"
) -> dt.datetime:
    """MAX(event time), epoch when the table is empty (A1).  Collected
    as a JVM-rendered wall-clock string (functions/timecross.py) so the
    result is process-tz-independent."""
    from paas_auditor_spark.functions.timecross import parse_wall, ts_string

    row = df.agg(ts_string(F.max(ts_col)).alias("mx")).first()
    mx = parse_wall(row["mx"])
    return mx if mx is not None else EPOCH_TS


def approx_count(parquet_path: str) -> int:
    """Metadata-only row count from parquet footers (A2).

    Like ``pg_class.reltuples`` this touches statistics, not data:
    pyarrow sums ``num_rows`` from file footers without reading pages.
    """
    import pyarrow.dataset as ds

    dataset = ds.dataset(parquet_path, format="parquet")
    return sum(f.metadata.num_rows for f in dataset.get_fragments())


def join_size_stats(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str | None = None,
) -> DataFrame:
    """Pre-flight equi-join cardinality + skew audit WITHOUT running
    the join: for inner equi-joins ``|L ⋈ R| = Σ_k cnt_L(k)·cnt_R(k)``
    exactly, so the estimate is computed from the two per-key count
    relations — two map-side-combined aggregations plus one key-sized
    join, never the (potentially quadratic) join output itself.  This
    is the planner's dry-run for a many-to-many join: a 100-row sample
    can hide a 10¹²-row blowup that this one-row relation reveals for
    the cost of counting keys.

    Returns one row: ``join_rows`` (exact inner-join output size),
    ``join_keys`` (matching key count), ``max_key_rows`` (largest
    single key's contribution — the skew ceiling: one Spark task must
    materialize this many rows unless the join is salted), and
    ``skew_factor`` (max over mean contribution, 2dp — feed it to
    ``operators/skew.py:auto_skew_join``'s decision).  NULL keys are
    excluded on both sides, matching equi-join semantics.  Composes
    with ``skew_stats`` (single-side audit); this is the two-sided
    product form.
    """
    right_key = left_key if right_key is None else right_key
    lc = (
        left.where(F.col(left_key).isNotNull())
        .groupBy(F.col(left_key).alias("k"))
        .agg(F.count(F.lit(1)).alias("ln"))
    )
    rc = (
        right.where(F.col(right_key).isNotNull())
        .groupBy(F.col(right_key).alias("k"))
        .agg(F.count(F.lit(1)).alias("rn"))
    )
    per_key = lc.join(rc, "k").select(
        (F.col("ln") * F.col("rn")).alias("kn")
    )
    return per_key.agg(
        F.coalesce(F.sum("kn"), F.lit(0)).cast("long").alias("join_rows"),
        F.count(F.lit(1)).alias("join_keys"),
        F.coalesce(F.max("kn"), F.lit(0)).cast("long").alias("max_key_rows"),
        F.round(
            F.max("kn")
            / (F.sum("kn") / F.count(F.lit(1)).cast("double")),
            2,
        ).alias("skew_factor"),
    )


__all__ = [
    "approx_count",
    "join_size_stats",
    "latest_event_time",
]
