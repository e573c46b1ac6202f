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
driver-side — single-threaded like the reference's shipper.  The store
returns the batch as Python tuples and ``hec_envelope`` turns each one
into its envelope on the driver with one string template, as the
reference marshals each event in-process (shipper.go:117-192): a tick
runs no Spark job and builds no per-row dict or JSON encoder.
"""

from __future__ import annotations

import random
import time
import urllib.request
from collections.abc import Callable, Iterable, Iterator
from json.encoder import encode_basestring as _quote
from typing import TypeVar

from paas_auditor_spark.functions.timecross import epoch_utc
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


# one HEC envelope: the P13 wrapper around the 13 ``cfclient.Event``
# fields in ``json.Marshal`` order, each ``%s`` an escaped JSON string
# but for the raw ``metadata``
_ENVELOPE = (
    '{"sourcetype":"cf-audit-event","source":%s,"event":{'
    '"guid":%s,"type":%s,"created_at":%s,"actor":%s,"actor_type":%s,'
    '"actor_name":%s,"actor_username":%s,"actee":%s,"actee_type":%s,'
    '"actee_name":%s,"organization_guid":%s,"space_guid":%s,'
    '"metadata":%s}}'
)
# ``created_at.strftime("%Y-%m-%dT%H:%M:%SZ")`` as a JSON string, at
# under half the cost; the year's ``%d`` leaves a year below 1000
# unpadded, as glibc's ``%Y`` does
_CREATED_AT = '"%d-%02d-%02dT%02d:%02d:%02dZ"'


def hec_envelope(row: tuple, deploy_env: str) -> str:
    """The HEC payload of one ``EVENT_ROWS`` tuple (``created_at`` naive
    UTC): the full 13-field ``cfclient.Event`` in ``json.Marshal`` order
    inside the P13 envelope (shipper.go:24-28,187-192).

    One ``%``-format of the ``_ENVELOPE`` template, with no per-row dict
    or ``JSONEncoder``: each string is escaped by the C
    ``json.encoder.encode_basestring`` that ``json.dumps(s,
    ensure_ascii=False)`` calls, so non-ASCII text stays raw and the
    bytes are those of a dict + ``json.dumps`` build.  A NULL string
    field is written as ``""`` (a Go string is never nil) and the raw
    ``metadata`` JSON is spliced in unchanged, NULL as ``null``
    (store.go:171-176,251-256).  The JVM twin is ``json_utils.event_json``
    + ``splunk_envelope``.  The two agree byte for byte but for one case:
    a C0 control other than ``\\b \\f \\n \\r \\t`` is escaped with
    lowercase hex here (``\\u001f``, as Go writes it) and with uppercase
    hex by Jackson (``\\u001F``).  Both parse to the same JSON.
    """
    (guid, created_at, event_type, actor, actor_type, actor_name,
     actor_username, actee, actee_type, actee_name, organization_guid,
     space_guid, metadata) = row
    return _ENVELOPE % (
        _quote(deploy_env),
        _quote(guid or ""),
        _quote(event_type or ""),
        '""' if created_at is None
        else _CREATED_AT % (created_at.year, created_at.month, created_at.day,
                            created_at.hour, created_at.minute,
                            created_at.second),
        _quote(actor or ""),
        _quote(actor_type or ""),
        _quote(actor_name or ""),
        _quote(actor_username or ""),
        _quote(actee or ""),
        _quote(actee_type or ""),
        _quote(actee_name or ""),
        _quote(organization_guid or ""),
        _quote(space_guid or ""),
        "null" if metadata is None else metadata,
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
    t0 = time.perf_counter()
    # ≤ cap rows in ship order, each with its envelope
    items = [
        (row, hec_envelope(row, deploy_env))
        for row in store.unshipped_events(name, cap)
    ]
    shipped = 0
    for batch in hec_batches(items, lambda item: item[1]):
        try:
            send_with_retry(sender, "\n".join(p for _, p in batch), sleep)
        except Exception as ex:
            if metrics:
                metrics.inc(f"{_mname(name)}_errors_total")
            if logger is not None:
                logger.error(
                    "ship.failed",
                    ex,
                    {
                        "guid": batch[0][0][0],
                        "batch_events": len(batch),
                        "shipped_before_failure": shipped,
                    },
                )
            break
        shipped += len(batch)
        last = batch[-1][0]
        if metrics:
            metrics.inc(f"{_mname(name)}_events_shipped_total", len(batch))
            metrics.set(
                f"{_mname(name)}_latest_event_timestamp", epoch_utc(last[1])
            )
        store.upsert_cursor(name, last[1], last[0])
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
    "hec_batches",
    "hec_envelope",
    "hec_sender",
    "send_with_retry",
    "ship_tick",
]
