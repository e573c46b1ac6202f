"""Interval (range-containment) join via time-bin equi-join.

Beyond reference parity (the reference has no joins at all — SURVEY.md
§2.3); this is the training-pipeline/time-series operator Spark lacks as a
built-in: join events to the intervals that contain them.

Scale design: the naive formulation — ``events JOIN intervals ON ts
BETWEEN start AND end`` — is a theta join, which Spark can only execute as
BroadcastNestedLoopJoin (O(|events| × |intervals|) comparisons, driver-OOM
once intervals stop fitting in a broadcast).  Binning restores equi-join
mechanics: every event hashes to its fixed-width time bin; every interval
explodes to the bins it overlaps; the (bin) equi-join + exact range filter
finds exactly the containment pairs with ordinary shuffle-hash-join cost.
A pair can only meet in the event's own bin, so no dedup is needed.  Bin
width trades explode factor (long intervals → many bins) against join
selectivity (wide bins → more false candidates filtered after the join);
pick it near the median interval length.

The same shape handles interval-interval overlap joins (explode both
sides, dedup on the pair) — documented here, implemented for the
containment case the queries need.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join(
    events: DataFrame,
    intervals_df: DataFrame,
    ts_col: str,
    start_col: str,
    end_col: str,
    bin_width_s: int = 3600,
    how: str = "inner",
) -> DataFrame:
    """All (event, interval) pairs with start ≤ ts ≤ end (inclusive);
    ``how="left"`` additionally keeps events contained in NO interval
    (NULL interval columns).

    Returns the events columns + the intervals columns.  Column names must
    not collide (pre-alias interval columns).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how={how!r}: only 'inner' and 'left' supported")
    ev = events.withColumn(
        "__bin", F.floor(F.unix_timestamp(F.col(ts_col)) / bin_width_s)
    )
    iv = intervals_df.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp(F.col(start_col)) / bin_width_s),
                F.floor(F.unix_timestamp(F.col(end_col)) / bin_width_s),
            )
        ),
    )
    contained = (F.col(ts_col) >= F.col(start_col)) & (
        F.col(ts_col) <= F.col(end_col)
    )
    if how == "inner":
        joined = ev.join(iv, "__bin", "inner").filter(contained)
        return joined.drop("__bin")
    # left: the containment predicate must live IN the join condition —
    # a post-join filter would drop the very NULL-extended rows a left
    # join exists to keep (an event whose bin matched but whose ts falls
    # outside every candidate interval would otherwise degenerate this
    # to inner).  An event in >1 matching bin can't duplicate: a pair
    # only meets in the event's own bin.
    joined = ev.join(
        iv, (ev["__bin"] == iv["__bin"]) & contained, "left"
    )
    return joined.drop("__bin")


__all__ = ["interval_join"]
