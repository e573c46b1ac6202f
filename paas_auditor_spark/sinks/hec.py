"""Splunk HEC as a NATIVE Spark sink (Python DataSource API, Spark 4):

    df.write.format("splunk_hec").option("url", …).option("token", …).save()
    df.writeStream.format("splunk_hec")…start()

The reference ships events to Splunk HEC with a driver-side loop — one
POST per event, retry/backoff, ≤8192 events per 15 s tick
(cf_audit_events_to_splunk_shipper.go:52-225) ≈ 546 events/s ceiling.
Both delivery paths here send NDJSON batches instead, cut by one shared
generator, :func:`hec_batches` (≤ ``HEC_BATCH_EVENTS`` events or about
``HEC_BATCH_BYTES`` of body per POST), with the same HEC envelope
({"event": …, "sourcetype": …, "source": …}, shipper.go:187-192) and the
same retry envelope (3 retries, backoff 100 ms → 2 s ×2 + jitter,
shipper.go:62-86):

- streaming/ship.py is the strictly-ordered stop-on-failure path: one
  driver-side loop over ordered batches, the cursor committed at the last
  event of the last acknowledged batch;
- this sink is the parallel-throughput path: executors POST
  per-partition batches concurrently, so throughput is
  partitions × batch-rate instead of one serial loop.

Delivery is at-least-once, exactly like the reference: a failed task or
replayed micro-batch re-POSTs its rows (HEC consumers dedup on the
event's guid field downstream).  Ordering is preserved WITHIN a
partition; for the reference's global oldest-first ship order (O4),
feed this sink from ``repartitionByRange`` output or a
single-partition cursor batch, or use the ordered shipper.

Register per-session: ``spark.dataSource.register(SplunkHecDataSource)``.

Options: ``url`` (HEC collector endpoint), ``token`` (sent as
``Authorization: Splunk <token>``; accepts the reference's
``SPLUNK_API_KEY`` value), ``sourcetype`` (default ``cf-audit-event``),
``source`` (default ``spark``), ``batch_size`` (events per POST,
default ``HEC_BATCH_EVENTS``; the byte bound always applies),
``max_retries`` (default 3), ``retry_base_s`` (default
0.1 — set 0 in tests), ``timeout_s`` (default 2, shipper.go:62).
"""

from __future__ import annotations

import dataclasses
import json
import random
import time
import urllib.error
import urllib.request
from collections.abc import Callable, Iterable, Iterator
from typing import TypeVar

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
)


T = TypeVar("T")

HEC_BATCH_EVENTS = 100
# Splunk Cloud rejects HEC bodies over 1 MB; half that leaves room for
# a batch of large-metadata events
HEC_BATCH_BYTES = 512 * 1024


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


@dataclasses.dataclass
class HecCommit(WriterCommitMessage):
    events: int = 0
    posts: int = 0


def _post_batch(url: str, token: str, payload: bytes, opts: dict) -> None:
    """POST one NDJSON batch with the reference's retry envelope."""
    max_retries = int(opts.get("max_retries", 3))
    base = float(opts.get("retry_base_s", 0.1))
    cap = 2.0
    timeout = float(opts.get("timeout_s", 2.0))
    delay = base
    last: Exception | None = None
    for attempt in range(max_retries + 1):
        try:
            req = urllib.request.Request(
                url,
                data=payload,
                method="POST",
                headers={
                    "Authorization": f"Splunk {token}",
                    "Content-Type": "application/json",
                },
            )
            with urllib.request.urlopen(req, timeout=timeout) as resp:
                resp.read()
            return
        except urllib.error.HTTPError as exc:
            # 4xx is permanent (bad token 401/403, malformed batch 400):
            # fail fast with the status instead of burning the full
            # backoff budget per partition per batch; 429 and 5xx retry
            if exc.code < 500 and exc.code != 429:
                raise RuntimeError(
                    f"HEC POST rejected with HTTP {exc.code}: {exc.reason}"
                ) from exc
            last = exc
        except (urllib.error.URLError, OSError) as exc:
            last = exc
        if attempt == max_retries:
            break
        # backoff 100ms → 2s ×2 + jitter (shipper.go:62-86) for EVERY
        # retryable path — 429/5xx as well as connection errors, so
        # parallel partitions don't hammer a rate-limited collector;
        # base 0 (tests) sleeps not at all
        if delay:
            time.sleep(delay + random.uniform(0, delay * 0.5))
        delay = min(delay * 2, cap) if delay else 0.0
    raise RuntimeError(f"HEC POST failed after {max_retries} retries: {last}")


def _write_rows(rows, options: dict) -> HecCommit:
    url = options["url"]
    token = options.get("token", "")
    sourcetype = options.get("sourcetype", "cf-audit-event")
    source = options.get("source", "spark")
    batch_size = int(options.get("batch_size", HEC_BATCH_EVENTS))

    envelopes = (
        json.dumps(
            {
                "event": row.asDict(recursive=True),
                "sourcetype": sourcetype,
                "source": source,
            },
            default=str,
        )
        for row in rows
    )
    events = posts = 0
    for batch in hec_batches(envelopes, max_events=batch_size):
        _post_batch(url, token, "\n".join(batch).encode(), options)
        events += len(batch)
        posts += 1
    return HecCommit(events=events, posts=posts)


class HecBatchWriter(DataSourceWriter):
    def __init__(self, options):
        self.options = dict(options)

    def write(self, rows) -> HecCommit:
        return _write_rows(rows, self.options)


class HecStreamWriter(DataSourceStreamWriter):
    def __init__(self, options):
        self.options = dict(options)

    def write(self, rows) -> HecCommit:
        return _write_rows(rows, self.options)

    def commit(self, messages, batch_id) -> None:
        # per-micro-batch bookkeeping only; delivery already happened in
        # write() (at-least-once — a replayed batch re-POSTs)
        return None

    def abort(self, messages, batch_id) -> None:
        return None


class SplunkHecDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "splunk_hec"

    def writer(self, schema, overwrite):
        return HecBatchWriter(self.options)

    def streamWriter(self, schema, overwrite):  # noqa: N802
        return HecStreamWriter(self.options)


__all__ = [
    "HEC_BATCH_BYTES",
    "HEC_BATCH_EVENTS",
    "HecBatchWriter",
    "HecStreamWriter",
    "SplunkHecDataSource",
    "hec_batches",
]
