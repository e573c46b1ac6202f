"""Ordered stop-on-failure shipper with cursor commit.

Re-expresses the reference shipper
(pkg/shippers/cf_audit_events_to_splunk_shipper.go:52-225):

- W3 HTTP sink with exponential-backoff retry (shipper.go:62-86: 100ms→2s,
  exponent 2, jitter 500ms, 3 retries), fed ordered NDJSON batches: the
  collected rows are cut by ``sinks.hec.hec_batches`` (≤100 events or
  about 512 KiB of body) and each batch is one POST, where the reference
  makes one POST per event
- W4 oldest-first ship loop, break on the first batch that still fails
  after its retries, commit the cursor to the last event of the last
  acknowledged batch (shipper.go:117-170)
- T4 at-least-once: the cursor advances only on success, so a failed batch
  is re-sent whole on the next tick — re-ships are bounded by one batch
  (plus events sharing the cursor timestamp).

Scale notes (SURVEY.md §7 hard-part 3): total ship order + stop-on-failure
implies sequential delivery of the ≤8192-event batch, so the loop runs
driver-side over the collected batch — single-threaded like the
reference's shipper.  Payload serialization stays distributed (the
envelope column is computed by executors before collect).  For unordered
sinks, use the parallel ``splunk_hec`` sink (sinks/hec.py).
"""

from __future__ import annotations

import random
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from paas_auditor_spark.functions.json_utils import event_json, splunk_envelope
from paas_auditor_spark.operators.cursor import (
    effective_cursor,
    unshipped_events,
    upsert_cursor,
)
from paas_auditor_spark.sinks.hec import hec_batches
from paas_auditor_spark.streaming.metrics import MetricsRegistry

Sender = Callable[[str], None]  # raises on delivery failure


@dataclass
class RetryPolicy:
    """Reference shipper.go:62-86 backoff envelope."""

    initial_backoff_s: float = 0.1
    max_backoff_s: float = 2.0
    exponent: float = 2.0
    jitter_s: float = 0.5
    max_retries: int = 3
    sleep: Callable[[float], None] = time.sleep
    rng: random.Random | None = None

    def send_with_retry(self, sender: Sender, payload: str) -> None:
        rng = self.rng or random
        backoff = self.initial_backoff_s
        attempt = 0
        while True:
            try:
                sender(payload)
                return
            except Exception:
                attempt += 1
                if attempt > self.max_retries:
                    raise
                self.sleep(min(backoff, self.max_backoff_s) + rng.uniform(0, self.jitter_s))
                backoff *= self.exponent


@dataclass
class ShipResult:
    shipped: int
    cursors_df: DataFrame
    failed: bool


def build_payloads(
    batch_df: DataFrame,
    deploy_env: str,
    ts_col: str = "created_at",
    id_col: str = "guid",
    event_type_col: str = "event_type",
) -> DataFrame:
    """(guid, created_at, payload) for a ship batch — the full-fidelity P13
    envelope (all 13 event fields + raw metadata, json.Marshal order;
    shipper.go:24-28,187-192).  Missing columns (synthetic test frames)
    default to ''.  Serialization is JVM column expressions on executors;
    only the bounded ready-to-send rows reach the driver.
    """
    cols = set(batch_df.columns)

    def _c(name: str) -> Column:
        return F.col(name) if name in cols else F.lit("")

    evt = event_json(
        F.col(id_col),
        F.col(ts_col),
        F.col(event_type_col),
        _c("actor"),
        _c("actor_type"),
        _c("actor_name"),
        _c("actor_username"),
        _c("actee"),
        _c("actee_type"),
        _c("actee_name"),
        organization_guid=_c("organization_guid"),
        space_guid=_c("space_guid"),
        metadata=F.col("metadata") if "metadata" in cols else None,
    )
    from paas_auditor_spark.functions.timecross import ts_string

    return batch_df.select(
        F.col(id_col).cast("string").alias("guid"),
        # the event time travels ONLY as the JVM-rendered wall-clock
        # string: no driver-side consumer reads a datetime object, and
        # collecting one would convert via the process tz — the exact
        # bug functions/timecross.py exists to prevent
        ts_string(F.col(ts_col)).alias("created_at_s"),
        splunk_envelope(evt, deploy_env).alias("payload"),
    )


def ship_rows(
    rows,
    sender: Sender,
    shipper_name: str,
    retry: RetryPolicy | None = None,
    metrics: MetricsRegistry | None = None,
    logger=None,
):
    """Ordered stop-on-failure delivery loop (W4) over collected payload
    rows, one NDJSON POST per ``hec_batches`` batch.  Returns
    ``(shipped, last_ok_row, failed)``: ``last_ok_row`` is the last row of
    the last acknowledged batch.  ``logger`` (a ``logs.JsonLogger``
    session) observes the first failure — the reference logs it before
    breaking (shipper.go:125-130)."""
    retry = retry or RetryPolicy()
    shipped = 0
    last_ok = None
    failed = False
    for batch in hec_batches(rows, lambda row: row["payload"]):
        try:
            retry.send_with_retry(
                sender, "\n".join(row["payload"] for row in batch)
            )
        except Exception as ex:
            failed = True
            if metrics:
                metrics.inc(f"{_mname(shipper_name)}_errors_total")
            if logger is not None:
                logger.error(
                    "ship.failed",
                    ex,
                    {
                        "guid": batch[0]["guid"],
                        "batch_events": len(batch),
                        "shipped_before_failure": shipped,
                    },
                )
            break
        shipped += len(batch)
        last_ok = batch[-1]
    if metrics:
        metrics.inc(f"{_mname(shipper_name)}_events_shipped_total", shipped)
        if last_ok is not None:
            from paas_auditor_spark.functions.timecross import (
                epoch_utc,
                parse_wall,
            )

            metrics.set(
                f"{_mname(shipper_name)}_latest_event_timestamp",
                epoch_utc(parse_wall(last_ok["created_at_s"])),
            )
    return shipped, last_ok, failed


def ship_unshipped(
    events_df: DataFrame,
    cursors_df: DataFrame,
    shipper_name: str,
    sender: Sender,
    deploy_env: str = "test",
    batch_cap: int = 8192,
    ts_col: str = "created_at",
    id_col: str = "guid",
    event_type_col: str = "event_type",
    retry: RetryPolicy | None = None,
    metrics: MetricsRegistry | None = None,
    logger=None,
) -> ShipResult:
    """One shipper tick: query → ordered ship → cursor advance.

    Mirrors shipper.go:106-170: on the first failed batch stop; if at
    least one batch shipped, commit the cursor at the last event of the
    last acknowledged batch so the next tick resumes from there
    (at-least-once, monotone cursor).
    """
    t0 = time.perf_counter()
    cursor_ts, shipped_id = effective_cursor(cursors_df, shipper_name)
    batch_df = build_payloads(
        unshipped_events(
            events_df, cursor_ts, shipped_id, batch_cap,
            ts_col=ts_col, id_col=id_col,
        ),
        deploy_env,
        ts_col=ts_col,
        id_col=id_col,
        event_type_col=event_type_col,
    )
    batch = batch_df.collect()  # ≤ batch_cap rows, ship order preserved
    shipped, last_ok, failed = ship_rows(
        batch,
        sender,
        shipper_name,
        retry=retry,
        metrics=metrics,
        logger=logger,
    )
    new_cursors = cursors_df
    if last_ok is not None:
        from paas_auditor_spark.functions.timecross import parse_wall

        new_cursors = upsert_cursor(
            cursors_df,
            shipper_name,
            parse_wall(last_ok["created_at_s"]),
            last_ok["guid"],
        )
    if metrics:
        metrics.inc(
            f"{_mname(shipper_name)}_ship_duration_total",
            time.perf_counter() - t0,
        )
    return ShipResult(shipped=shipped, cursors_df=new_cursors, failed=failed)


def _mname(shipper_name: str) -> str:
    # "cf-audit-events-to-splunk" → metric prefix
    # "cf_audit_events_to_splunk_shipper" (reference pkg/shippers/metrics.go)
    return shipper_name.replace("-", "_") + "_shipper"


__all__ = [
    "RetryPolicy",
    "Sender",
    "ShipResult",
    "build_payloads",
    "ship_rows",
    "ship_unshipped",
]
