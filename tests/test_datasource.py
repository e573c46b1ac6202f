"""The CF events client shared by both collector modes
(sources/paginated_http.py: transport, pager, decoder, watermark) and the
native ``cf_events`` streaming source built on it (sources/datasource.py):
retry envelope, UAA auth, envelope flattening, watermark offsets, and
cross-mode parity of what is stored and shipped."""

from __future__ import annotations

import datetime as dt
import http.server
import json
import threading
import urllib.parse
import uuid

import pytest

from pyspark.sql import functions as F

BASE = dt.datetime(2024, 3, 1, 12, 0, 0)


def _resource(i: int, sec: float | None = None) -> dict:
    guid = str(uuid.UUID(int=i))
    created = (
        BASE + dt.timedelta(seconds=i if sec is None else sec)
    ).strftime("%Y-%m-%dT%H:%M:%SZ")
    return {
        "metadata": {"guid": guid, "url": f"/v2/events/{guid}",
                     "created_at": created},
        "entity": {
            "type": "audit.app.create",
            "actor": f"actor-{i}", "actor_type": "user",
            "actor_name": f"an-{i}", "actor_username": f"u-{i}",
            "actee": f"ae-{i}", "actee_type": "app",
            "actee_name": f"aen-{i}",
            "organization_guid": "" if i % 2 == 0 else f"org-{i}",
            "space_guid": f"sp-{i}",
            "metadata": {"request": f"r{i}"},
        },
    }


class PagedEventsServer:
    """Serves /v2/events pages chained by ``next_url`` (as the CF API
    does), honouring ``q=timestamp>``; records every query."""

    def __init__(self, n_events: int, page_size_cap: int = 10) -> None:
        self.n_events = n_events
        self.cap = page_size_cap
        self.queries: list[dict] = []
        self.fail_next = 0  # serve this many failures before recovering
        self.fail_code = 500  # status for those failures
        self.extra: list[tuple] = []  # (guid_int, sec_offset) late arrivals
        self.include_invalid = False  # add one resource w/o created_at
        self.transform = lambda r: r  # rewrite each served resource
        outer = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802
                if outer.fail_next > 0:
                    outer.fail_next -= 1
                    self.send_response(outer.fail_code)
                    self.end_headers()
                    return
                parsed = urllib.parse.urlparse(self.path)
                qs = urllib.parse.parse_qs(parsed.query)
                outer.queries.append(
                    {**{k: v[0] for k, v in qs.items()},
                     "auth": self.headers.get("Authorization")}
                )
                page = int(qs.get("page", ["1"])[0])
                per = min(int(qs.get("results-per-page", ["10"])[0]), outer.cap)
                # honor the pushed-down time predicate like the CF API
                pairs = [(i, float(i)) for i in range(outer.n_events)]
                pairs += [(i, float(s_)) for i, s_ in outer.extra]
                if "q" in qs and qs["q"][0].startswith("timestamp>"):
                    floor = dt.datetime.strptime(
                        qs["q"][0].removeprefix("timestamp>"),
                        "%Y-%m-%dT%H:%M:%SZ",
                    )
                    pairs = [
                        p for p in pairs
                        if BASE + dt.timedelta(seconds=p[1]) > floor
                    ]
                total_pages = max(1, -(-len(pairs) // per))
                chunk = pairs[(page - 1) * per : page * per]
                resources = [outer.transform(_resource(i, s_)) for i, s_ in chunk]
                if outer.include_invalid and page == 1:
                    resources.append(
                        {"metadata": {"guid": "no-ts"}, "entity": {}}
                    )
                nxt = None
                if page < total_pages:
                    nxt = f"/v2/events?page={page + 1}&results-per-page={per}"
                    if "q" in qs:
                        nxt += f"&q={qs['q'][0]}"
                body = json.dumps(
                    {
                        "total_results": len(pairs),
                        "total_pages": total_pages,
                        "next_url": nxt,
                        "resources": resources,
                    }
                ).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *a):  # noqa: N802
                pass

        self.httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.url = f"http://127.0.0.1:{self.httpd.server_port}"
        threading.Thread(target=self.httpd.serve_forever, daemon=True).start()

    def close(self) -> None:
        self.httpd.shutdown()


@pytest.fixture()
def registered(spark):
    from paas_auditor_spark.sources.datasource import CfEventsDataSource

    spark.dataSource.register(CfEventsDataSource)
    return spark


def _stream_reader(**options):
    from paas_auditor_spark.sources.datasource import CfEventsStreamReader

    return CfEventsStreamReader(options)


def test_datasource_fetch_and_flatten():
    """The stream reader pages through the shared client: the static
    token rides every request as the one bearer spelling, each page is
    requested once, and resources flatten like the loop path."""
    server = PagedEventsServer(n_events=25, page_size_cap=10)
    try:
        reader = _stream_reader(
            base_url=server.url, page_size="10", CF_TOKEN="tok-123"
        )
        batch, end = reader.read(reader.initialOffset())
        rows = {r[0]: r for r in batch}
    finally:
        server.close()
    assert len(rows) == 25
    r0 = rows[str(uuid.UUID(int=0))]
    assert r0[1] == BASE.replace(tzinfo=dt.timezone.utc)
    assert r0[10] is None  # organization_guid '' -> NULL (P3)
    assert r0[11] == "sp-0"
    assert json.loads(r0[12]) == {"request": "r0"}
    assert all(q["auth"] == "bearer tok-123" for q in server.queries)
    pages_seen = sorted(int(q.get("page", "1")) for q in server.queries)
    assert pages_seen == [1, 2, 3]
    # the offset is the watermark: max event time − 5 s overlap
    assert end["max_seen"] == "2024-03-01T12:00:24Z"
    assert end["since"] == "2024-03-01T12:00:19Z"


def test_datasource_streaming_watermark_offsets(registered, tmp_path):
    """spark.readStream.format("cf_events"): micro-batches advance the
    watermark offset (max_seen − 5 s overlap), new server-side events
    arrive in the next trigger, and the overlap re-read duplicates are
    bounded to the window (at-least-once by design, T2/T3)."""
    spark = registered
    server = PagedEventsServer(n_events=8, page_size_cap=10)
    try:
        q = (
            spark.readStream.format("cf_events")
            .option("base_url", server.url)
            .option("page_size", 10)
            .load()
            .writeStream.format("memory")
            .queryName("cf_stream")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            first = spark.sql("SELECT guid FROM cf_stream").count()
            assert first == 8
            server.n_events = 12  # new events appear at the API
            q.processAllAvailable()
            out = spark.sql("SELECT guid FROM cf_stream")
            total, distinct = out.count(), out.distinct().count()
        finally:
            q.stop()
    finally:
        server.close()
    assert distinct == 12
    # overlap re-read duplicates stay bounded to the 5s window
    assert total >= 12 and total <= 12 + 6


def test_datasource_retries_transient_errors():
    """5xx responses retry with backoff from 0.5 s, doubling (W3
    envelope); the fetch succeeds once the server recovers.  A fourth
    consecutive failure propagates, and a non-transient 4xx raises at
    once."""
    import urllib.error

    from paas_auditor_spark.sources.paginated_http import (
        fetch_event_pages,
        http_transport,
    )

    server = PagedEventsServer(n_events=5, page_size_cap=10)
    server.fail_next = 2  # first two requests 500
    sleeps: list[float] = []
    transport = http_transport(sleep=sleeps.append)
    try:
        pages = list(fetch_event_pages(transport, server.url, BASE, wait_s=0))
        assert sum(len(p["resources"]) for p in pages) == 4  # > BASE
        assert sleeps == [0.5, 1.0]

        sleeps.clear()
        server.fail_next = 4
        with pytest.raises(urllib.error.HTTPError) as err:
            transport(f"{server.url}/v2/events")
        assert err.value.code == 500
        assert sleeps == [0.5, 1.0, 2.0]

        sleeps.clear()
        server.fail_next, server.fail_code = 1, 404
        with pytest.raises(urllib.error.HTTPError) as err:
            transport(f"{server.url}/v2/events")
        assert err.value.code == 404 and sleeps == []
    finally:
        server.close()


def test_native_api_to_store_pipeline(registered, tmp_path):
    """North-star fully native: readStream cf_events (watermark offsets)
    → dedup → DuckDB store via ON CONFLICT. New API events land exactly
    once in the database across triggers despite the overlap re-read."""
    import duckdb

    from paas_auditor_spark.sinks.jdbc import dbapi_factory
    from paas_auditor_spark.stores import DbApiStore
    from paas_auditor_spark.streaming.metrics import MetricsRegistry
    from paas_auditor_spark.streaming.pipeline import stream_api_to_store

    spark = registered
    server = PagedEventsServer(n_events=6, page_size_cap=10)
    db = str(tmp_path / "native.duckdb")
    store = DbApiStore(spark, dbapi_factory("duckdb", db), write_partitions=1)
    metrics = MetricsRegistry()
    try:
        q = stream_api_to_store(
            spark, server.url, store, str(tmp_path / "ckpt"),
            page_size=10, metrics=metrics,
        )
        try:
            q.processAllAvailable()
            server.n_events = 9
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        server.close()
    con = duckdb.connect(db)
    n, nd = con.execute(
        "SELECT count(*), count(DISTINCT guid) FROM cf_audit_events"
    ).fetchone()
    con.close()
    # the DB absorbed the overlap re-read: exactly one row per event
    assert (n, nd) == (9, 9)
    assert metrics.get("cf_audit_event_collector_events_collected_total") == 9


def test_datasource_streaming_late_arrival_not_starved(registered, tmp_path):
    """A late event landing INSIDE the overlap window (max_seen does not
    advance) must still be emitted on the next trigger — the offset
    advances via the window row count.  A resource without created_at is
    dropped, not a crash."""
    spark = registered
    server = PagedEventsServer(n_events=8, page_size_cap=10)
    server.include_invalid = True
    try:
        q = (
            spark.readStream.format("cf_events")
            .option("base_url", server.url)
            .option("page_size", 10)
            .load()
            .writeStream.format("memory")
            .queryName("cf_late")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            assert spark.sql(
                "SELECT DISTINCT guid FROM cf_late"
            ).count() == 8
            # late arrival: ts=5s < max_seen=7s, inside the 5s overlap
            # window (since=2s) — no newer event exists to advance max
            server.extra = [(100, 5)]
            q.processAllAvailable()
            out = spark.sql("SELECT DISTINCT guid FROM cf_late")
            assert out.count() == 9
            got = {r["guid"] for r in out.collect()}
        finally:
            q.stop()
    finally:
        server.close()
    assert str(uuid.UUID(int=100)) in got


class UaaEventsServer:
    """UAA token endpoint + /v2/events in one server; tokens expire after
    ``token_uses`` requests, forcing the 401-refresh path."""

    def __init__(self, n_events: int, token_uses: int = 2) -> None:
        self.n_events = n_events
        self.token_uses = token_uses
        self.issued = 0
        self.uses: dict[str, int] = {}
        self.token_posts = 0
        outer = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def _json(self, code, payload):
                body = json.dumps(payload).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.end_headers()
                self.wfile.write(body)

            def do_POST(self):  # noqa: N802 — UAA token endpoint
                outer.token_posts += 1
                outer.issued += 1
                tok = f"tok-{outer.issued}"
                outer.uses[tok] = 0
                self._json(200, {"access_token": tok, "token_type": "bearer"})

            def do_GET(self):  # noqa: N802
                auth = (self.headers.get("Authorization") or "")
                tok = auth.removeprefix("bearer ")
                if tok not in outer.uses:
                    self._json(401, {"error": "invalid_token"})
                    return
                outer.uses[tok] += 1
                if outer.uses[tok] > outer.token_uses:
                    self._json(401, {"error": "token_expired"})
                    return
                parsed = urllib.parse.urlparse(self.path)
                qs = urllib.parse.parse_qs(parsed.query)
                page = int(qs.get("page", ["1"])[0])
                per = int(qs.get("results-per-page", ["10"])[0])
                ids = list(range(outer.n_events))
                total_pages = max(1, -(-len(ids) // per))
                chunk = ids[(page - 1) * per : page * per]
                nxt = None
                if page < total_pages:
                    nxt = f"/v2/events?page={page + 1}&results-per-page={per}"
                self._json(200, {
                    "total_results": len(ids),
                    "total_pages": total_pages,
                    "next_url": nxt,
                    "resources": [_resource(i) for i in chunk],
                })

            def log_message(self, *a):  # noqa: N802
                pass

        self.httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.url = f"http://127.0.0.1:{self.httpd.server_port}"
        threading.Thread(target=self.httpd.serve_forever, daemon=True).start()

    def close(self):
        self.httpd.shutdown()


def test_datasource_uaa_acquires_and_refreshes_token():
    """Client-credentials options under the CLI's CF_* names: the reader
    fetches a bearer token before the first request and transparently
    refreshes when the API starts returning 401 (expiry) — S1 auth parity
    for the native source."""
    # 5 pages of 10 events; tokens die after 2 uses → ≥2 token grants
    server = UaaEventsServer(n_events=50, token_uses=2)
    try:
        reader = _stream_reader(
            base_url=server.url,
            page_size="10",
            CF_TOKEN_URL=server.url + "/oauth/token",
            CF_CLIENT_ID="paas-auditor",
            CF_CLIENT_SECRET="s3cret",
        )
        batch, _ = reader.read(reader.initialOffset())
        assert len(list(batch)) == 50
    finally:
        server.close()
    assert server.token_posts >= 2  # initial grant + at least one refresh


def test_parse_created_tolerates_variants():
    """Non-canonical timestamps become rows with NULL created_at (to be
    quarantined downstream), never a task-killing ValueError.  Parsed
    times are timezone-aware UTC."""
    from paas_auditor_spark.sources.paginated_http import parse_created

    utc = dt.timezone.utc
    assert parse_created("2026-01-01T00:00:00Z") == dt.datetime(
        2026, 1, 1, tzinfo=utc
    )
    assert parse_created("2026-01-01T00:00:00.123Z") == dt.datetime(
        2026, 1, 1, 0, 0, 0, 123000, tzinfo=utc
    )
    # numeric offset normalizes to UTC
    assert parse_created("2026-01-01T05:30:00+05:30") == dt.datetime(
        2026, 1, 1, tzinfo=utc
    )
    assert parse_created("2026-01-01T05:30:00+05:30").tzinfo == utc
    assert parse_created("not-a-time") is None
    assert parse_created("") is None
    assert parse_created(None) is None


def test_rate_limit_429_retries_then_succeeds():
    """A 429 backs off and retries like a 5xx — one rate-limit response
    must not abort the fetch."""
    from paas_auditor_spark.sources.paginated_http import (
        fetch_event_pages,
        http_transport,
    )

    server = PagedEventsServer(n_events=5, page_size_cap=10)
    server.fail_next = 2
    server.fail_code = 429
    sleeps: list[float] = []
    try:
        pages = list(
            fetch_event_pages(
                http_transport(sleep=sleeps.append), server.url,
                dt.datetime(1970, 1, 1), wait_s=0,
            )
        )
    finally:
        server.close()
    assert sum(len(p["resources"]) for p in pages) == 5
    assert sleeps == [0.5, 1.0]


def test_decoder_stores_utc_under_non_utc_process_tz(spark, tmp_path):
    """created_at is decoded timezone-aware, so the instant
    ``ingest_delta`` stores does not move with the process timezone:
    12:00Z stays 12:00 under Asia/Kolkata (a naive datetime would be
    stored as 06:30)."""
    import os
    import time

    from paas_auditor_spark.operators.ingest import ingest_delta
    from paas_auditor_spark.sources.paginated_http import decode_pages
    from paas_auditor_spark.stores import ParquetStore

    old = os.environ.get("TZ")
    os.environ["TZ"] = "Asia/Kolkata"
    time.tzset()
    try:
        store = ParquetStore(spark, str(tmp_path / "wh"))
        rows = list(decode_pages([{"resources": [_resource(0)]}]))
        assert ingest_delta(rows, store) == 1
        got = store.events_df().select(
            F.date_format("created_at", "yyyy-MM-dd HH:mm:ss").alias("s")
        ).first()["s"]
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()
    assert got == "2024-03-01 12:00:00"


NESTED = {"request": {"name": "my-app", "instances": 2}, "index": 3}


def _nested_event_3(resource: dict) -> dict:
    """Event 3 with nested, numeric metadata and a +05:30 created_at
    (the same instant as its canonical 12:00:03Z)."""
    if resource["metadata"]["guid"] == str(uuid.UUID(int=3)):
        resource["metadata"]["created_at"] = "2024-03-01T17:30:03+05:30"
        resource["entity"]["metadata"] = NESTED
    return resource


def test_both_collector_modes_store_and_ship_the_same_rows(registered, tmp_path):
    """Loop mode (Service.collector_tick) and streaming mode
    (stream_api_to_store) read one fake CF through the same client and
    store identical rows in all 13 columns; nested metadata survives as
    JSON into the store and into the HEC payload."""
    from paas_auditor_spark.__main__ import resolve_transport
    from paas_auditor_spark.config import EngineConfig
    from paas_auditor_spark.runner import Service
    from paas_auditor_spark.stores import ParquetStore
    from paas_auditor_spark.streaming.pipeline import stream_api_to_store

    spark = registered
    server = PagedEventsServer(n_events=12, page_size_cap=5)
    server.transform = _nested_event_3
    cfg = EngineConfig()
    cfg.pagination_wait_s = 0.0
    bodies: list[str] = []
    svc = Service(
        spark,
        warehouse_dir=str(tmp_path / "loop"),
        transport=resolve_transport({}, server.url),
        sender=bodies.append,
        cfg=cfg,
        base_url=server.url,
    )
    stream_store = ParquetStore(spark, str(tmp_path / "stream"))
    try:
        assert svc.collector_tick() == 12
        assert svc.shipper_tick() == 12
        q = stream_api_to_store(
            spark, server.url, stream_store, str(tmp_path / "ckpt"),
            page_size=5,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        server.close()

    def rows(store):
        df = store.events_df()
        assert len(df.columns) == 13
        return [tuple(r) for r in df.orderBy("guid").collect()]

    loop_rows, stream_rows = rows(svc.store), rows(stream_store)
    assert len(loop_rows) == 12
    assert loop_rows == stream_rows
    by_guid = {r[0]: r for r in loop_rows}
    guid3 = str(uuid.UUID(int=3))
    assert json.loads(by_guid[guid3][12]) == NESTED
    events = {
        e["guid"]: e
        for e in (
            json.loads(line)["event"]
            for body in bodies
            for line in body.split("\n")
            if line
        )
    }
    assert len(events) == 12
    assert events[guid3]["metadata"] == NESTED
    assert events[guid3]["created_at"] == "2024-03-01T12:00:03Z"
