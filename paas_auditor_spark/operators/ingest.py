"""Ingest operators: validation, idempotent append, the one ingest step.

Reference behavior being re-expressed (the S4 envelope decode that feeds
this step is ``sources.paginated_http.decode_resource``):
- P8 event-time validity CHECK (create_cf_audit_events.sql:26-30)
- T2 incremental watermark with 5s overlap re-read
  (pkg/collectors/cf_audit_event_collector.go:36,92-104) — computed by
  ``runner.Service._watermark``
- W1/T3 idempotent insert: ON CONFLICT (guid) DO NOTHING
  (pkg/db/store.go:73-100) — overlap re-reads never duplicate.

Scale notes (SURVEY.md §7 hard-part 1): the anti-join against the store
must not scan full history.  ``ingest_delta`` bounds its right side by
the batch's own oldest event, so only stored keys a batch row could
collide with are read — on ``ParquetStore`` the files whose logged max
``created_at`` reaches that floor, one or two near the tail (the table is
not partitioned, and Spark's INT96 ``created_at`` has no footer stats to
prune by).  With a source that honours ``timestamp>`` the batch starts
after the watermark and the window is the 5 s overlap; a source that
returns old rows widens the window instead of duplicating them.  The
small bounded side is broadcast so no shuffle of the batch is needed.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paas_auditor_spark.streaming.metrics import MetricsRegistry


def validate_events(
    df: DataFrame, ts_col: str = "created_at", key_col: str = "guid"
) -> tuple[DataFrame, DataFrame]:
    """Split (valid, quarantined) on the event-time CHECK (P8) AND the
    key NOT NULL constraint.

    The reference enforces ``created_at > 'epoch'`` and
    ``guid uuid NOT NULL`` as table constraints; as an engine we filter
    on the write path and keep the rejects addressable instead of
    erroring the batch.  The key check matters downstream: a NULL key
    can never match a dedup anti-join (NULL ≠ NULL), so an unvalidated
    null-key row would be re-appended on EVERY overlap re-read.
    """
    # epoch literal crosses as a string (session-tz parse) — an object
    # literal converts via the process tz and would misjudge rows within
    # tz-offset hours of the epoch on a non-UTC host
    epoch_lit = F.lit("1970-01-01 00:00:00").cast(
        df.schema[ts_col].dataType
    )
    cond = F.col(ts_col).isNotNull() & (F.col(ts_col) > epoch_lit)
    if key_col in df.columns:
        cond = cond & F.col(key_col).isNotNull()
    return df.filter(cond), df.filter(~cond)


def idempotent_append(
    target_df: DataFrame,
    batch_df: DataFrame,
    key_col: str = "guid",
    ts_col: str = "created_at",
    window_floor: dt.datetime | None = None,
) -> DataFrame:
    """W1/T3 over DataFrames: ``target`` plus the batch rows whose key is
    not already present — ``INSERT ... ON CONFLICT (guid) DO NOTHING``
    (reference store.go:87-93) as in-batch dedup, then a left-anti join.

    ``window_floor`` bounds the anti-join's target side to rows at or
    after it, so the right side becomes a pruned scan, broadcast to the
    batch.  Null keys are dropped: a NULL key never matches the
    anti-join (NULL ≠ NULL) and would re-append on every re-read.
    """
    deduped = batch_df.filter(F.col(key_col).isNotNull()).dropDuplicates(
        [key_col]
    )
    existing = target_df
    if window_floor is not None:
        from paas_auditor_spark.functions.timecross import wall_string

        existing = existing.filter(
            F.col(ts_col)
            >= F.lit(wall_string(window_floor)).cast(
                existing.schema[ts_col].dataType
            )
        )
    existing_keys = F.broadcast(existing.select(key_col).distinct())
    fresh = deduped.join(existing_keys, on=key_col, how="left_anti")
    # lazy checkpoint: repeated actions on the result run the anti-join once
    return target_df.unionByName(fresh.localCheckpoint(eager=False))


def ingest_delta(
    batch_df: DataFrame, store, metrics: MetricsRegistry | None = None
) -> int:
    """Store the batch's fresh events once; return how many were fresh.

    The one ingest step of the service path — the collector tick and the
    streaming ``foreachBatch`` sink both call it.  Validation drops
    epoch-or-older and null-guid rows, in-batch duplicates collapse, and
    a broadcast left-anti join against the store's keys since the
    batch's own oldest event removes everything already stored, however
    old the source's rows are.  The store's append runs the anti-join and
    returns the rows it stored, so no separate count runs.
    """
    from paas_auditor_spark.functions.timecross import parse_wall, ts_string

    valid, _quarantine = validate_events(batch_df)
    # checkpointed so the floor read below decodes and dedups the batch
    # once; the anti-join then reads the materialized rows
    deduped = valid.dropDuplicates(["guid"]).localCheckpoint(eager=False)
    # wall-clock string collect — a datetime-object collect would shift
    # by the process-tz offset on a non-UTC host (functions/timecross.py)
    lo = deduped.agg(ts_string(F.min("created_at")).alias("lo")).first()["lo"]
    if lo is None:
        return 0
    fresh = deduped.join(
        F.broadcast(store.overlap_keys_df(parse_wall(lo))), "guid", "left_anti"
    )
    n = store.append_events(fresh)
    if metrics is not None:
        metrics.inc("cf_audit_event_collector_events_collected_total", float(n))
    return n


__all__ = [
    "idempotent_append",
    "ingest_delta",
    "validate_events",
]
