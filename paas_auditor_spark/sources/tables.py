"""Parquet table loaders for the driver's synthetic testdata.

The relational scan surface of the reference (store.go:125-145, :201-207)
maps to plain ``spark.read.parquet`` — Catalyst gives projection pushdown
and predicate pushdown into the scan for free.

Scale notes: at 100 TB these paths would be date-partitioned
(``.../events/dt=YYYY-MM-DD/``) so the cursor range filter (P6) becomes
partition pruning instead of a full scan; the loader API takes an optional
list of columns so callers prune early.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Parquet TIMESTAMP(NANOS) columns (Spark has no nanos type: read as long
# via the legacy conf, then integer-divide to micros — matches DuckDB's
# ns→us truncation exactly).
NANOS_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


# Inferred parquet schemas memoized on (paths, mtimes) — METADATA, not results:
# every query still scans the parquet data.  Schema inference schedules a
# 1-task footer-read job per ``spark.read.parquet`` call (measured 326 ms/read
# vs 100 ms with an explicit schema at sf0.1); across a 143-query best-of-2
# bench the same immutable files were re-inferred several hundred times.  The
# mtime key means regenerated testdata or a rebuilt artifact re-infers — the
# `_corpus_count` footer-count convention, applied to the schema half of the
# same footer.
_SCHEMA_CACHE: dict[str, T.StructType] = {}


def read_parquet_cached(
    spark: SparkSession, *paths: str, merge_schema: bool = False
) -> DataFrame:
    """``spark.read.parquet`` with the inferred schema memoized per
    (path set, mtimes): the first read of an artifact pays the footer
    inference job, every later read passes the schema explicitly and
    schedules NO job.  ``merge_schema=True`` keys separately and
    preserves the union-of-layouts semantics (the explicit merged
    schema makes each file's missing columns read as NULL — exactly
    what mergeSchema inference produced).  Unstat-able paths (remote
    URIs) fall back to plain inference."""
    try:
        ident = "|".join(
            sorted(
                f"{os.path.abspath(p)}:{os.stat(p).st_mtime_ns}"
                for p in paths
            )
        )
    except OSError:
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*paths)
    key = ("m:" if merge_schema else "") + ident
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        schema = reader.parquet(*paths).schema
        _SCHEMA_CACHE[key] = schema
    return spark.read.schema(schema).parquet(*paths)


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    columns: list[str] | None = None,
) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # UTC is load-bearing for oracle parity (SURVEY.md hard-part 5); pin it
    # here so the engine is correct even under a caller-built session.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = read_parquet_cached(spark, f"{sf_dir}/{name}.parquet")
    for col in NANOS_TS_COLS.get(name, ()):
        if col in df.columns and isinstance(
            df.schema[col].dataType, T.LongType
        ):
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if columns:
        df = df.select(*columns)
    return df


# Rebalance only inputs small enough that the round-robin shuffle is ~free;
# anything bigger already has >= cores parquet splits and must NOT be
# re-shuffled (at 100 TB this guard makes rebalance_scan a no-op).
REBALANCE_MAX_BYTES = 1 << 30


def rebalance_scan(df: DataFrame) -> DataFrame:
    """Round-robin rebalance of a *small* scan before compute-heavy per-row
    work (shingling, hashing, vector math).

    Parquet scan parallelism is bounded by file splits: a tiny table (one
    file, one row group) reads as ONE task, which serializes every narrow
    transformation chained onto the scan.  Shuffling <=1 GB costs
    milliseconds and unlocks all cores; on large inputs (or non-local paths
    we cannot stat) this returns the input unchanged.
    """
    try:
        total = 0
        for f in df.inputFiles():
            path = f.removeprefix("file:")
            total += os.path.getsize(path)
            if total > REBALANCE_MAX_BYTES:
                return df
    except OSError:
        return df
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism)
