"""Ingest operators: the one ingest step of the service path, and the
idempotent append over DataFrames that the registry query uses.

Reference behavior being re-expressed (the S4 envelope decode that feeds
this step is ``sources.paginated_http.decode_resource``):
- P8 event-time validity CHECK (create_cf_audit_events.sql:26-30)
- T2 incremental watermark with 5s overlap re-read
  (pkg/collectors/cf_audit_event_collector.go:36,92-104) — computed by
  ``runner.Service._watermark``
- W1/T3 idempotent insert: ON CONFLICT (guid) DO NOTHING
  (pkg/db/store.go:73-100) — overlap re-reads never duplicate.

Where the work runs: a tick's rows are already Python tuples on the
driver in both collector modes (the loop-mode pager decodes them, and so
does the streaming source), a few thousand at most.  ``ingest_delta``
therefore validates, deduplicates and anti-joins them in plain Python
and hands the fresh tuples to the store: ``ParquetStore`` writes them as
one Arrow batch in one file (one Spark job), ``DbApiStore`` inserts them
in one transaction (no Spark job).  A tick that re-read only the overlap
runs no Spark job.

Scale notes (SURVEY.md §7 hard-part 1): the anti-join against the store
must not scan full history.  ``ingest_delta`` asks the store only for the
keys at or after the batch's own oldest event — on ``ParquetStore`` the
``guid``/``created_at`` columns of the one or two files near the tail
whose logged max reaches that floor.  With a source that honours
``timestamp>`` the batch starts after the watermark and the window is the
5 s overlap; a source that returns old rows widens the window instead of
duplicating them.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paas_auditor_spark.operators.cursor import EPOCH_TS
from paas_auditor_spark.streaming.metrics import MetricsRegistry

COLLECTED = "cf_audit_event_collector_events_collected_total"
REJECTED = "cf_audit_event_collector_events_rejected_total"
EPOCH_UTC = EPOCH_TS.replace(tzinfo=dt.timezone.utc)


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
    rows: Iterable[tuple], store, metrics: MetricsRegistry | None = None
) -> int:
    """Store the batch's fresh events once; return how many were fresh.

    The one ingest step of the service path — the collector tick and the
    streaming ``foreachBatch`` sink both call it with decoded
    ``EVENT_ROWS`` tuples whose ``created_at`` is aware UTC.  On the
    driver:

    - rows with a null guid, a null ``created_at`` or one at or before
      the epoch fail validation (P8 and the guid NOT NULL key) and are
      counted in ``cf_audit_event_collector_events_rejected_total``; a
      null key could never match the anti-join and would re-append on
      every re-read;
    - the first row per guid is kept;
    - every guid the store holds at or after the batch's oldest event
      (``store.overlap_keys``) is removed, however old the source's rows
      are.

    Nothing fresh means no store write.  Otherwise the fresh tuples go
    to ``store.append_events``.
    """
    first: dict[str, tuple] = {}
    rejected = 0
    for row in rows:
        guid, created_at = row[0], row[1]
        if guid is None or created_at is None or created_at <= EPOCH_UTC:
            rejected += 1
        else:
            first.setdefault(guid, row)
    fresh: list[tuple] = []
    if first:
        # naive UTC wall clock: the stores' floor convention
        floor = (
            min(r[1] for r in first.values())
            .astimezone(dt.timezone.utc)
            .replace(tzinfo=None)
        )
        stored = store.overlap_keys(floor)
        fresh = [r for g, r in first.items() if g not in stored]
    if fresh:
        store.append_events(fresh)
    if metrics is not None:
        metrics.inc(REJECTED, float(rejected))
        metrics.inc(COLLECTED, float(len(fresh)))
    return len(fresh)


__all__ = [
    "idempotent_append",
    "ingest_delta",
]
