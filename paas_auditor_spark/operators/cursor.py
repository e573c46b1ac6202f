"""Shipper-cursor operators — the reference's most complex query.

Re-expresses the CTE at reference pkg/db/store.go:191-225:

    WITH last_shipped_event AS (
      SELECT updated_at, shipped_id FROM (
        SELECT ... FROM shipper_cursors WHERE name = $1
        UNION SELECT (date '1970 1 1')::timestamptz, '')
      ORDER BY updated_at DESC LIMIT 1),
    recent_cf_audit_events AS (
      SELECT * FROM cf_audit_events
      WHERE created_at >= (SELECT updated_at FROM last_shipped_event)
      ORDER BY created_at ASC LIMIT 8192)
    SELECT <13 cols> FROM recent_cf_audit_events
    WHERE guid::text != (SELECT shipped_id FROM last_shipped_event)
    ORDER BY created_at ASC

    Note the clause order: the 8192 cap applies to the *recent* window
    BEFORE the last-shipped guid is excluded, so a full boundary batch
    yields 8191 rows — mirrored exactly below.

Operator mapping (SURVEY.md §2.3/§2.5): J1 union-with-default, J2 top-1 by
sort, J3 scalar-subquery inlining, P6 range filter, P7 boundary anti-filter,
O3 batch-bounding top-k, O4 chronological output.

Scale notes: the cursor relation has cardinality exactly 1, so we collect it
to the driver and inline as literals — the same plan Postgres produces for
the scalar subqueries, and strictly cheaper than a broadcast cross-join.
The big-side work is then a range filter plus a global top-k, which Spark
executes as TakeOrderedAndProject (no full sort, no full shuffle:
per-partition heaps of size k merged on the driver).  The filter prunes
nothing by itself: Spark's INT96 ``created_at`` has no footer stats.
This operator serves the ``unshipped_events`` registry query; the
service's ``stores.ParquetStore.unshipped_events`` runs the same window
with pyarrow over only the files whose logged max reaches the cursor.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paas_auditor_spark.functions.timecross import (
    parse_wall,
    ts_string,
    wall_string,
)
from paas_auditor_spark.schemas import EPOCH

EPOCH_TS = dt.datetime(1970, 1, 1)


def effective_cursor(
    cursors_df: DataFrame, shipper_name: str
) -> tuple[dt.datetime, str]:
    """Resolve (updated_at, shipped_id) for a shipper, defaulting to epoch.

    Parity with reference store.go:192-199: cursor row UNION default row
    (J1 — Postgres UNION is distinct; rows always differ here, but we keep
    dropDuplicates for strict parity, SURVEY.md hard-part 4), then top-1 by
    updated_at (J2).  Cardinality is exactly 1 → collect to driver (J3).
    """
    # updated_at collects as a JVM-rendered wall-clock STRING, never as a
    # datetime object — object crossings use the Python PROCESS timezone
    # and shift the cursor by the tz offset on a non-UTC host (see
    # functions/timecross.py)
    rows = (
        cursors_df.filter(F.col("name") == F.lit(shipper_name))
        .select(ts_string("updated_at").alias("u"), "shipped_id")
        .collect()
    )
    # UNION with the (epoch, '') default row + ORDER BY updated_at DESC
    # LIMIT 1, resolved driver-side: the relation is at most a handful of
    # rows per shipper, and a distributed sort+dedup here costs two shuffle
    # jobs for nothing (Postgres equally resolves this via an index top-1).
    candidates = [(parse_wall(r["u"]), r["shipped_id"]) for r in rows]
    candidates.append((EPOCH_TS, ""))
    return max(dict.fromkeys(candidates), key=lambda c: c[0])


def unshipped_events(
    events: DataFrame,
    cursor_ts: dt.datetime,
    shipped_id: str,
    batch_cap: int = 8192,
    ts_col: str = "created_at",
    id_col: str = "guid",
) -> DataFrame:
    """Bounded, chronologically-ordered batch of not-yet-shipped events.

    Parity with reference store.go:201-225: range filter P6
    (``created_at >= cursor``), O3 top-k bound *inside* the recent-events
    CTE, then boundary anti-filter P7 (exclude exactly the last-shipped
    id — events sharing the cursor timestamp may re-ship: at-least-once,
    preserved deliberately), O4 ascending ship order.  The cap is applied
    BEFORE the exclusion, exactly as the reference SQL orders its clauses,
    so a saturated batch ships 8191 events.  ``id_col`` is a deterministic
    tie-break the reference gets implicitly from its index scan.

    Plan shape: the capped window is TakeOrderedAndProject (per-partition
    heaps of size k, no global sort); the post-filter and final sort then
    touch ≤ ``batch_cap`` rows.
    """
    # The cursor literal crosses as a wall-clock STRING cast to the ts
    # column's own type — session-tz-consistent for TIMESTAMP, pure wall
    # clock for TIMESTAMP_NTZ.  A datetime-object literal would be
    # converted with the Python PROCESS timezone and shift the boundary
    # on a non-UTC host (caught by a TZ sweep: the batch read 8192 rows,
    # not 8191; see functions/timecross.py for the invariant).
    lit_cursor = F.lit(wall_string(cursor_ts)).cast(
        events.schema[ts_col].dataType
    )
    recent = (
        events.filter(F.col(ts_col) >= lit_cursor)
        .orderBy(F.col(ts_col).asc(), F.col(id_col).asc())
        .limit(batch_cap)
    )
    return recent.filter(
        F.col(id_col).cast("string") != F.lit(shipped_id)
    ).orderBy(F.col(ts_col).asc(), F.col(id_col).asc())


__all__ = [
    "EPOCH",
    "EPOCH_TS",
    "effective_cursor",
    "unshipped_events",
]
