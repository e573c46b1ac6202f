"""Ordered stop-on-failure shipper with cursor commit: the one Splunk HEC
client.

``ship_tick`` is the one ship step of the service path
(``runner.Service.shipper_tick`` calls it): store cursor query → payload
build → ordered delivery → a cursor commit after every batch.  It
re-expresses the reference shipper
(pkg/shippers/cf_audit_events_to_splunk_shipper.go:52-225):

- W3 HTTP sink: ``hec_sender`` makes one POST per call, and
  ``send_with_retry`` wraps it in the reference's backoff envelope
  (shipper.go:62-86: 100ms→2s, exponent 2, jitter 500ms, 3 retries).  It
  is fed ordered NDJSON batches: the collected rows are cut by
  ``hec_batches`` (≤100 events or about 512 KiB of body) and each batch
  is one POST, where the reference makes one POST per event
- W4 oldest-first ship loop, break on the first batch that still fails
  after its retries, commit the cursor to the last event of each
  acknowledged batch (shipper.go:117-170)
- T4 at-least-once: the cursor advances only on success, so a failed batch
  is re-sent whole on the next tick — re-ships are bounded by one batch
  (plus events sharing the cursor timestamp).  A kill or a cursor commit
  that fails after delivery re-ships one batch.  That is stricter than
  the reference, which commits once per tick and so re-ships the whole
  tick.

Scale notes (SURVEY.md §7 hard-part 3): total ship order + stop-on-failure
implies sequential delivery of the ≤8192-event batch, so the loop runs
driver-side over the collected batch — single-threaded like the
reference's shipper.  Payload serialization stays distributed (the
envelope column is computed by executors before collect); the envelope
expression is built once per deploy env and column set and reused by
every tick, since building it costs more py4j calls than the tick's
collect.
"""

from __future__ import annotations

import functools
import random
import time
import urllib.request
from collections.abc import Callable, Iterable, Iterator
from typing import TypeVar

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from paas_auditor_spark.functions.json_utils import event_json, splunk_envelope
from paas_auditor_spark.streaming.metrics import MetricsRegistry

Sender = Callable[[str], None]  # raises on delivery failure
T = TypeVar("T")

HEC_BATCH_EVENTS = 100
# Splunk Cloud rejects HEC bodies over 1 MB; half that leaves room for
# a batch of large-metadata events
HEC_BATCH_BYTES = 512 * 1024

# reference shipper.go:62-86 backoff envelope
SEND_RETRIES = 3
BACKOFF_S = 0.1
MAX_BACKOFF_S = 2.0
BACKOFF_FACTOR = 2.0
JITTER_S = 0.5
# HTTP client timeout (shipper.go:62)
TIMEOUT_S = 2.0


def hec_batches(
    items: Iterable[T],
    envelope: Callable[[T], str] = lambda item: item,
    max_events: int = HEC_BATCH_EVENTS,
) -> Iterator[list[T]]:
    """Cut ``items`` into consecutive, order-preserving batches for one
    NDJSON POST each: a batch ends at ``max_events`` items or before its
    ``"\\n"``-joined envelopes would pass ``HEC_BATCH_BYTES`` (UTF-8),
    whichever comes first.  A larger envelope goes alone."""
    batch: list[T] = []
    size = 0
    for item in items:
        n = len(envelope(item).encode())
        if batch and size + 1 + n > HEC_BATCH_BYTES:
            yield batch
            batch, size = [], 0
        size += n + 1 if batch else n
        batch.append(item)
        if len(batch) >= max_events:
            yield batch
            batch, size = [], 0
    if batch:
        yield batch


def hec_sender(url: str, token: str) -> Sender:
    """The HEC ``Sender``: one POST of ``body`` to ``url`` with
    ``Authorization: Splunk <token>``, no retry (``send_with_retry`` adds
    it).  A non-2xx status raises (shipper.go:214)."""

    def send(body: str) -> None:
        req = urllib.request.Request(
            url,
            data=body.encode(),
            headers={"Authorization": f"Splunk {token}"},
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=TIMEOUT_S) as resp:  # noqa: S310
            if not 200 <= resp.status < 300:
                raise RuntimeError(f"splunk status {resp.status}")

    return send


def send_with_retry(
    sender: Sender, body: str, sleep: Callable[[float], None] = time.sleep
) -> None:
    """Send ``body``, retrying failures ``SEND_RETRIES`` times with the
    reference's backoff: 100 ms doubling to at most 2 s, plus up to 0.5 s
    of jitter.  The last failure propagates."""
    backoff = BACKOFF_S
    attempt = 0
    while True:
        try:
            sender(body)
            return
        except Exception:
            attempt += 1
            if attempt > SEND_RETRIES:
                raise
            sleep(min(backoff, MAX_BACKOFF_S) + random.uniform(0, JITTER_S))
            backoff *= BACKOFF_FACTOR


def build_payloads(batch_df: DataFrame, deploy_env: str) -> DataFrame:
    """(guid, created_at_s, payload) for a ship batch — the full-fidelity
    P13 envelope (all 13 event fields + raw metadata, json.Marshal order;
    shipper.go:24-28,187-192).  Missing columns (synthetic test frames)
    default to ''.  Serialization is JVM column expressions on executors;
    only the bounded ready-to-send rows reach the driver.
    """
    return batch_df.select(
        *_payload_columns(deploy_env, frozenset(batch_df.columns))
    )


@functools.lru_cache(maxsize=16)
def _payload_columns(
    deploy_env: str, cols: frozenset[str]
) -> tuple[Column, ...]:
    """The ``build_payloads`` projection for one deploy env and column set;
    the Columns are unresolved expressions, valid for any frame with those
    columns."""
    from paas_auditor_spark.functions.timecross import ts_string

    def _c(name: str) -> Column:
        return F.col(name) if name in cols else F.lit("")

    evt = event_json(
        F.col("guid"),
        F.col("created_at"),
        F.col("event_type"),
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
    return (
        F.col("guid").cast("string").alias("guid"),
        # the event time travels ONLY as the JVM-rendered wall-clock
        # string: no driver-side consumer reads a datetime object, and
        # collecting one would convert via the process tz — the exact
        # bug functions/timecross.py exists to prevent
        ts_string(F.col("created_at")).alias("created_at_s"),
        splunk_envelope(evt, deploy_env).alias("payload"),
    )


def ship_tick(
    store,
    sender: Sender,
    name: str,
    deploy_env: str,
    cap: int,
    sleep: Callable[[float], None] = time.sleep,
    metrics: MetricsRegistry | None = None,
    logger=None,
) -> int:
    """One shipper tick: cursor query → ordered ship → cursor advance;
    returns the events shipped.

    Mirrors shipper.go:106-170 with one NDJSON POST per ``hec_batches``
    batch: stop on the first batch that still fails after its retries,
    and commit the cursor (W2) to the last event of every acknowledged
    batch, so a kill or a failed commit re-ships at most that batch.  A
    commit that raises ends the tick.  ``logger`` (a ``logs.JsonLogger``
    session) observes the first failure — the reference logs it before
    breaking (shipper.go:125-130).
    """
    from paas_auditor_spark.functions.timecross import epoch_utc, parse_wall

    t0 = time.perf_counter()
    rows = build_payloads(
        store.unshipped_events(name, cap), deploy_env
    ).collect()  # ≤ cap rows, ship order preserved
    shipped = 0
    for batch in hec_batches(rows, lambda row: row["payload"]):
        try:
            send_with_retry(
                sender, "\n".join(row["payload"] for row in batch), sleep
            )
        except Exception as ex:
            if metrics:
                metrics.inc(f"{_mname(name)}_errors_total")
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
        # the timestamp comes from the wall-clock string twin, not a
        # process-tz-converted datetime object
        last_ts = parse_wall(batch[-1]["created_at_s"])
        if metrics:
            metrics.inc(f"{_mname(name)}_events_shipped_total", len(batch))
            metrics.set(
                f"{_mname(name)}_latest_event_timestamp", epoch_utc(last_ts)
            )
        store.upsert_cursor(name, last_ts, batch[-1]["guid"])
    if metrics:
        metrics.inc(
            f"{_mname(name)}_ship_duration_total", time.perf_counter() - t0
        )
    return shipped


def _mname(shipper_name: str) -> str:
    # "cf-audit-events-to-splunk" → metric prefix
    # "cf_audit_events_to_splunk_shipper" (reference pkg/shippers/metrics.go)
    return shipper_name.replace("-", "_") + "_shipper"


__all__ = [
    "HEC_BATCH_BYTES",
    "HEC_BATCH_EVENTS",
    "Sender",
    "build_payloads",
    "hec_batches",
    "hec_sender",
    "send_with_retry",
    "ship_tick",
]
