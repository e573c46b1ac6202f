"""Expression-level utilities shared by the column-function modules."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def _scan_split_estimate(df) -> int | None:
    """Estimated scan task count from input-file sizes (parquet footer
    listing only — NO job, NO physical planning), mirroring Spark's own
    split arithmetic (FilePartition.maxSplitBytes):

      totalBytes   = Σ (file_size + openCostInBytes)
      bytesPerCore = totalBytes / defaultParallelism
      maxSplit     = min(maxPartitionBytes, max(openCost, bytesPerCore))
      estimate     = ceil(totalBytes / maxSplit)

    (bin-packing approximated by the ceiling division — Spark packs the
    per-file pieces greedily into partitions of ``maxSplit`` capacity,
    so the true count is within ±1 of this for same-sized files; parquet
    row-group boundaries can still make a byte-split land empty, which
    is exactly the under-split case callers guard against).  Returns
    ``None`` when the input set is unknowable driver-side (non-file
    relation, checkpoint, unreadable path) or a byte conf is
    unparseable/zero — callers fall back to the exact (expensive)
    partition probe."""
    import math
    import os

    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    try:
        conf = df.sparkSession.conf
        mpb = _parse_byte_conf(
            conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        )
        open_cost = _parse_byte_conf(
            conf.get("spark.sql.files.openCostInBytes", "4194304")
        )
        if mpb is None or open_cost is None:
            return None
        parallelism = max(
            1, df.sparkSession.sparkContext.defaultParallelism
        )
        total = 0
        for f in files:
            total += os.path.getsize(f.removeprefix("file:")) + open_cost
        max_split = min(mpb, max(open_cost, total // parallelism))
        return max(1, math.ceil(total / max(1, max_split)))
    except OSError:
        return None


def _parse_byte_conf(v: str) -> int | None:
    """Parse a Spark byte conf value ("128m", "1g", "134217728b", plain
    int) into bytes.  Returns ``None`` on unparseable or non-positive
    values (silently mapping a misconfigured conf to the 128 MB default
    would mask the problem — callers fall back to the exact partition
    probe instead)."""
    s = v.strip().lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if s.endswith("b") and not s[:-1].isdigit():
        s = s[:-1]  # "128mb" -> "128m"
    try:
        if s and s[-1] in units:
            n = int(float(s[:-1]) * units[s[-1]])
        else:
            n = int(s.rstrip("b"))
    except ValueError:
        return None
    return n if n > 0 else None


def fan_out(df, min_partitions: int | None = None):
    """Repartition ``df`` up to cluster parallelism IF the upstream scan
    under-splits — the small-input guard for expensive narrow maps.

    Parquet can only split at row-group boundaries, so a small file (or a
    single-row-group file of any size) scans as ONE partition and every
    downstream narrow map (regex tokenize, shingle hashing, vector math)
    runs serially until the first shuffle.  Calling this on the *narrow
    projection* feeding such a map shuffles only the projected columns and
    unlocks full parallelism.  The condition is split-count based, so
    at real scale (a 100 TB table scans as thousands of splits) it is a
    no-op — no extra Exchange ever appears in the large-input plan.

    The split count is ESTIMATED from input-file sizes when the relation
    is file-backed (the exact probe —
    ``df.rdd.getNumPartitions()`` — forces full physical planning +
    codegen of the subtree at plan-BUILD time, measured 0.1-0.4 s per
    call; the size estimate is ~2 ms and mirrors Spark's own
    FilePartition.maxSplitBytes arithmetic, so the repartition-or-not
    decision agrees with the exact probe up to bin-packing rounding —
    and when they do differ near the threshold, both answers are
    acceptable: the input is already ≈ cluster-parallel).  Non-file
    inputs fall back to the exact probe.
    """
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    splits = _scan_split_estimate(df)
    if splits is None:
        splits = df.rdd.getNumPartitions()
    if splits < target:
        return df.repartition(target)
    return df


def sql_doubles(values) -> str:
    """SQL text of an ``array<double>`` literal — for embedding model
    constants (codebooks, centroids) into ONE parsed expression string.

    ``F.lit`` on a nested/large Python list round-trips every element
    through py4j (~0.25 s for a 16×16 codebook; a plan with several such
    literals spends whole seconds just constructing expressions), and
    every Column operator call adds its own round trip.  Building the
    expression as TEXT and parsing it with one ``F.expr`` is measured
    150× faster and value-identical: repr() is the shortest exact
    round-trip form of a double, and Spark's literal parser reads it
    back to the same bits.
    """
    return "array(" + ",".join(f"CAST({x!r} AS DOUBLE)" for x in values) + ")"


def sql_doubles_2d(rows) -> str:
    """SQL text of an ``array<array<double>>`` literal (see sql_doubles)."""
    return "array(" + ",".join(sql_doubles(row) for row in rows) + ")"


def lit_doubles(values) -> Column:
    """``array<double>`` literal via one parsed SQL string."""
    return F.expr(sql_doubles(values))


def let(value: Column, body: Callable[[Column], Column]) -> Column:
    """Bind ``value`` to a name evaluated once per row inside ``body``.

    Spark evaluates an outer expression referenced inside a higher-order
    function's lambda once per *array element* (there is no loop-invariant
    hoisting through HOF lambdas), so e.g. a tokenizer feeding a per-shingle
    ``transform`` re-runs its regex split for every shingle.  Wrapping the
    expression as the single element of an array and passing it through
    ``transform`` makes it the lambda argument — evaluated exactly once per
    row — at the cost of one 1-element array allocation.
    """
    return F.transform(F.array(value), body)[0]
