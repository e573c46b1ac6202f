"""CF audit events as a native Structured Streaming source (Python
DataSource API, Spark 4): ``spark.readStream.format("cf_events")``.

An offset adapter over the CF client in ``sources/paginated_http.py``:
each micro-batch fetches through the same transport, ``next_url`` pager,
decoder and watermark rule as the loop-mode collector, so both modes
store the same rows.  Options:

- ``base_url`` (required), ``page_size`` (default 100);
- ``wait_s``: pause between pages (default 0; the CLI passes
  ``FETCHER_PAGINATION_WAIT_TIME``);
- ``since``: first watermark (default the epoch), ``overlap_s``: the
  watermark overlap (default 5 s);
- the CLI's credential names (``CF_TOKEN``, ``CF_CLIENT_ID``,
  ``CF_CLIENT_SECRET``, ``CF_USERNAME``, ``CF_PASSWORD``,
  ``CF_TOKEN_URL``), resolved by ``paginated_http.resolve_transport``.

Register per-session:  ``spark.dataSource.register(CfEventsDataSource)``.
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

from paas_auditor_spark.operators.cursor import EPOCH_TS
from paas_auditor_spark.sources.paginated_http import (
    EVENT_ROWS,
    TIME_FORMAT,
    decode_pages,
    fetch_event_pages,
    parse_created,
    resolve_transport,
    watermark,
)


class CfEventsStreamReader(SimpleDataSourceStreamReader):
    """The collector loop as a native streaming source, with the
    reference's watermark discipline (T2).

    Offsets are the watermark itself: ``{"since": <rfc3339>, "max_seen":
    <rfc3339>, "n": <rows>}``.  Each trigger fetches ``timestamp > since``;
    the next offset's ``since`` is ``paginated_http.watermark`` of the max
    event time seen — the reference's overlap re-read
    (cf_audit_event_collector.go:36).  Boundary rows therefore arrive
    at-least-once by design; the store's idempotent ingest gives the
    reference's effectively-once result (T3).  ``readBetweenOffsets``
    replays a committed range by refetching and capping at the range's
    ``max_seen`` — recovery needs no source-side state."""

    def __init__(self, options):
        self.base_url = options["base_url"].rstrip("/")
        self.page_size = int(options.get("page_size", 100))
        self.wait_s = float(options.get("wait_s", 0.0))
        self.since = options.get("since", EPOCH_TS.strftime(TIME_FORMAT))
        if parse_created(self.since) is None:
            raise ValueError(f"cf_events: unparseable since {self.since!r}")
        self.overlap_s = float(options.get("overlap_s", 5.0))
        self.transport = resolve_transport(options, self.base_url)

    def initialOffset(self) -> dict:  # noqa: N802
        return {"since": self.since, "max_seen": self.since, "n": 0}

    def _fetch_all(self, since: str) -> list[tuple]:
        """All rows newer than ``since``.  Rows without a parseable
        created_at are dropped here: they cannot order against the
        watermark, and ``ingest_delta`` would reject them anyway (P8)."""
        pages = fetch_event_pages(
            self.transport,
            self.base_url,
            parse_created(since),
            self.page_size,
            self.wait_s,
        )
        return [r for r in decode_pages(pages) if r[1] is not None]

    def read(self, start: dict):
        rows = self._fetch_all(start["since"])
        if not rows:
            return iter(()), start
        max_seen = max(r[1] for r in rows)
        prev_max = parse_created(start["max_seen"])
        # Spark's contract: a non-empty batch MUST advance the offset.  A
        # fetch that merely re-read the overlap window (same max AND same
        # row count as last trigger) carries nothing new — report no
        # progress.  A LATE arrival inside the window changes the count
        # without moving max: emit it, advancing the offset via "n", so
        # late rows are never starved waiting for a newer event.
        if max_seen <= prev_max and len(rows) == start.get("n", 0):
            return iter(()), start
        hi = max(max_seen, prev_max)
        wm = watermark(hi, self.overlap_s)
        end = {
            "since": wm.strftime(TIME_FORMAT),
            "max_seen": hi.strftime(TIME_FORMAT),
            # expected row count of a no-news refetch from end["since"]
            "n": sum(1 for r in rows if r[1] > wm),
        }
        return iter(rows), end

    def readBetweenOffsets(self, start: dict, end: dict):  # noqa: N802
        cap = parse_created(end["max_seen"])
        return iter(r for r in self._fetch_all(start["since"]) if r[1] <= cap)


class CfEventsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "cf_events"

    def schema(self):
        return EVENT_ROWS

    def simpleStreamReader(self, schema):  # noqa: N802
        return CfEventsStreamReader(self.options)


__all__ = ["CfEventsDataSource", "CfEventsStreamReader"]
