"""Service-runner end-to-end: the reference main.go contract — warehouse
init, collect→ship→inform ticks, cursor persistence, /metrics + /health."""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import urllib.request
import uuid

import pytest

from paas_auditor_spark.runner import SHIPPER_NAME, Service
from paas_auditor_spark.config import EngineConfig
from paas_auditor_spark.operators.cursor import EPOCH_TS

BASE = dt.datetime(2024, 3, 1, 12, 0, 0)


def _resource(i: int) -> dict:
    return {
        "metadata": {
            "guid": str(uuid.UUID(int=i)),
            "url": f"/v2/events/{i}",
            "created_at": (BASE + dt.timedelta(seconds=i)).strftime(
                "%Y-%m-%dT%H:%M:%SZ"
            ),
            "updated_at": None,
        },
        "entity": {
            "type": "audit.app.create",
            "actor": f"actor-{i}",
            "actor_type": "user",
            "actor_name": f"an-{i}",
            "actor_username": f"u-{i}",
            "actee": f"actee-{i}",
            "actee_type": "app",
            "actee_name": f"aen-{i}",
            "timestamp": (BASE + dt.timedelta(seconds=i)).strftime(
                "%Y-%m-%dT%H:%M:%SZ"
            ),
            "metadata": {"request": f"r{i}"},
            "organization_guid": "",
            "space_guid": "",
        },
    }


class PageServer:
    """Canned single-page transport; re-pointable between ticks."""

    def __init__(self, ids):
        self.ids = list(ids)

    def __call__(self, url: str) -> dict:
        return {
            "total_results": len(self.ids),
            "total_pages": 1,
            "next_url": None,
            "resources": [_resource(i) for i in self.ids],
        }


def hec_events(bodies) -> list[dict]:
    """The HEC envelopes in NDJSON bodies, parsed, in send order."""
    return [json.loads(line) for body in bodies for line in body.split("\n")]


@contextlib.contextmanager
def fake_hec():
    """Loopback HEC collector: yields ``(url, posts)``; every POST is
    recorded as ``{"auth": ..., "body": ...}`` and answered 200."""
    import http.server
    import threading

    posts: list[dict] = []

    class Hec(http.server.BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802
            length = int(self.headers.get("Content-Length", "0"))
            posts.append(
                {
                    "auth": self.headers.get("Authorization"),
                    "body": self.rfile.read(length).decode(),
                }
            )
            self.send_response(200)
            self.end_headers()
            self.wfile.write(b"{}")

        def log_message(self, *args):
            pass

    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Hec)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        host, port = server.server_address
        yield f"http://{host}:{port}/hec", posts
    finally:
        server.shutdown()
        server.server_close()


def test_service_end_to_end(spark, tmp_path):
    transport = PageServer([0, 1, 2])
    sent: list[str] = []
    cfg = EngineConfig()
    cfg.pagination_wait_s = 0.0
    svc = Service(
        spark,
        warehouse_dir=str(tmp_path / "wh"),
        transport=transport,
        sender=sent.append,
        cfg=cfg,
    )

    # tick 1: 3 events collected, all shipped, cursor persisted
    svc.run_loops(max_ticks=1)
    assert svc.totals.collected == 3
    assert svc.totals.shipped == 3
    assert svc.store.effective_cursor(SHIPPER_NAME) == (
        BASE + dt.timedelta(seconds=2), str(uuid.UUID(int=2))
    )

    # tick 2: overlap re-fetch (0..2 again) + 2 new events → only the new
    # ones land and ship; shipped payloads stay unique
    transport.ids = [1, 2, 3, 4]
    svc.run_loops(max_ticks=1)
    assert svc.totals.collected == 5
    assert svc.totals.shipped == 5
    events = spark.read.parquet(svc.paths["cf_audit_events"])
    assert events.count() == 5
    assert events.select("guid").distinct().count() == 5
    guids = [e["event"]["guid"] for e in hec_events(sent)]
    assert len(guids) == len(set(guids)) == 5

    # metrics + health endpoints (main.go:75-86)
    server = svc.serve_metrics(port=0)
    try:
        port = server.server_address[1]
        health = urllib.request.urlopen(f"http://127.0.0.1:{port}/health")
        assert health.read() == b"OK"
        metrics = urllib.request.urlopen(
            f"http://127.0.0.1:{port}/metrics"
        ).read().decode()
        assert "cf_audit_event_collector_events_collected_total 5" in metrics
        assert "informer_cf_audit_events_total 5" in metrics
    finally:
        server.shutdown()


def test_service_shipper_failure_keeps_collector_alive(spark, tmp_path):
    """T8: a failing sink must not stop collection; the cursor stays put
    and the next healthy tick re-ships (at-least-once)."""
    transport = PageServer([0, 1])
    calls = {"n": 0}

    def flaky(payload: str) -> None:
        calls["n"] += 1
        raise RuntimeError("sink down")

    cfg = EngineConfig()
    cfg.pagination_wait_s = 0.0
    svc = Service(
        spark,
        warehouse_dir=str(tmp_path / "wh2"),
        transport=transport,
        sender=flaky,
        cfg=cfg,
    )
    svc.run_loops(max_ticks=1)
    assert svc.totals.collected == 2
    assert svc.totals.shipped == 0  # sink down, nothing committed

    sent: list[str] = []
    svc.sender = sent.append
    svc.run_loops(max_ticks=1)
    assert svc.totals.shipped == 2  # re-shipped after recovery


def test_shipper_gated_on_missing_creds(spark, tmp_path):
    """main.go:110-121 parity: no Splunk creds → shipper never runs;
    collector + informer are unaffected."""
    transport = PageServer([0, 1, 2])
    cfg = EngineConfig()
    cfg.pagination_wait_s = 0.0
    svc = Service(
        spark,
        warehouse_dir=str(tmp_path / "wh3"),
        transport=transport,
        sender=None,  # creds absent
        cfg=cfg,
    )
    svc.run_loops(max_ticks=1)
    assert svc.totals.collected == 3
    assert svc.totals.shipped == 0
    # cursor never committed (no silent epoch ship)
    assert svc.store.effective_cursor(SHIPPER_NAME) == (EPOCH_TS, "")
    # threaded deployment: collector + informer loops spawn (no shipper
    # without creds)
    assert len(svc.run_threaded()) == 2
    svc.stop()


def test_shipper_failure_emits_json_error_and_service_survives(spark, tmp_path):
    """VERDICT r04 item 4: the shipper's log-and-continue policy must LOG —
    a structured JSON error event with component-session provenance — and
    the collector keeps running (no more bare ``except: pass``)."""
    import io

    from paas_auditor_spark.logs import ERROR, JsonLogger

    buf = io.StringIO()

    def broken(payload: str) -> None:
        raise RuntimeError("hec is down")

    cfg = EngineConfig()
    cfg.pagination_wait_s = 0.0
    svc = Service(
        spark,
        warehouse_dir=str(tmp_path / "whlog"),
        transport=PageServer([0, 1]),
        sender=broken,
        cfg=cfg,
        logger=JsonLogger(sink=buf),
    )
    svc.run_loops(max_ticks=2)  # second tick proves the service stayed up
    assert svc.totals.collected == 2  # collector unaffected
    records = [json.loads(ln) for ln in buf.getvalue().splitlines()]
    errors = [r for r in records if r["log_level"] == ERROR]
    assert errors, "shipper failure must emit a JSON error event"
    assert errors[0]["message"] == "paas-auditor.shipper.ship.failed"
    assert errors[0]["data"]["error"] == "hec is down"
    assert errors[0]["data"]["shipped_before_failure"] == 0
    # both ticks logged the failure, service never died
    assert len(errors) == 2
    # collector progress is logged at INFO with its own session
    assert any(
        r["message"] == "paas-auditor.collector.collected" for r in records
    )


def test_shipper_from_reference_env_vars(spark, tmp_path):
    """Drop-in parity (VERDICT r04 item 3): a deployment using the
    reference's own manifest names — SPLUNK_HEC_ENDPOINT_URL +
    SPLUNK_API_KEY (main_config.go:61-62) — must start the shipper and
    POST with the Splunk auth header."""
    from paas_auditor_spark.__main__ import resolve_sender

    with fake_hec() as (url, posts):
        sender = resolve_sender(
            {
                "SPLUNK_HEC_ENDPOINT_URL": url,
                "SPLUNK_API_KEY": "ref-key",
            }
        )
        assert sender is not None
        # engine alias still accepted; neither alone nor URL-less starts it
        assert resolve_sender({"SPLUNK_HEC_ENDPOINT_URL": "x",
                               "SPLUNK_HEC_AUTH_TOKEN": "t"}) is not None
        assert resolve_sender({"SPLUNK_API_KEY": "t"}) is None
        assert resolve_sender({"SPLUNK_HEC_ENDPOINT_URL": "x"}) is None

        cfg = EngineConfig()
        cfg.pagination_wait_s = 0.0
        svc = Service(
            spark,
            warehouse_dir=str(tmp_path / "whenv"),
            transport=PageServer([0, 1]),
            sender=sender,
            cfg=cfg,
        )
        svc.run_loops(max_ticks=1)
        assert svc.totals.shipped == 2
        assert len(posts) == 1  # both events in one NDJSON batch
        assert all(p["auth"] == "Splunk ref-key" for p in posts)
        envelopes = hec_events(p["body"] for p in posts)
        assert len(envelopes) == 2
        assert all(e["sourcetype"] == "cf-audit-event" for e in envelopes)


def test_service_tick_posts_ordered_batches(spark, tmp_path):
    """One Service tick over 250 events through the real HTTP sender is
    exactly three POSTs (100/100/50) carrying the events in order — a
    slide back to one POST per event fails here."""
    from paas_auditor_spark.__main__ import resolve_sender

    with fake_hec() as (url, posts):
        cfg = EngineConfig()
        cfg.pagination_wait_s = 0.0
        svc = Service(
            spark,
            warehouse_dir=str(tmp_path / "whbatch"),
            transport=PageServer(range(250)),
            sender=resolve_sender(
                {"SPLUNK_HEC_ENDPOINT_URL": url, "SPLUNK_API_KEY": "k"}
            ),
            cfg=cfg,
        )
        svc.run_loops(max_ticks=1)
        assert svc.totals.shipped == 250
        assert len(posts) == 3
        assert [len(p["body"].split("\n")) for p in posts] == [100, 100, 50]
        guids = [e["event"]["guid"] for e in hec_events(p["body"] for p in posts)]
        assert guids == [str(uuid.UUID(int=i)) for i in range(250)]


def test_service_batch_failure_delivery_contract(spark, tmp_path):
    """Fault on the batched shipper with a real ParquetStore: every
    attempt at batch 2 fails during tick 1 (HEC took the body but the
    response never came back), tick 2 is healthy.  The source ignores
    ``q=timestamp>``, so tick 2 re-reads every event.  The delivery
    contract holds: every event delivered, no duplicate stored rows, a
    cursor that only moves forward, and at most one batch re-shipped."""
    from paas_auditor_spark.streaming.ship import HEC_BATCH_EVENTS

    delivered: list[str] = []  # every body that reached the collector
    tick = {"n": 1}

    def hec(payload: str) -> None:
        delivered.append(payload)
        if tick["n"] == 1 and str(uuid.UUID(int=100)) in payload:
            raise TimeoutError("HEC response timed out")

    cfg = EngineConfig()
    cfg.pagination_wait_s = 0.0
    svc = Service(
        spark,
        warehouse_dir=str(tmp_path / "whfault"),
        transport=PageServer(range(250)),
        sender=hec,
        cfg=cfg,
    )

    def cursor():
        return svc.store.effective_cursor(SHIPPER_NAME)

    svc.run_loops(max_ticks=1)
    assert svc.totals.shipped == 100
    c1 = cursor()
    assert c1 == (BASE + dt.timedelta(seconds=99), str(uuid.UUID(int=99)))
    # batch 3 was never tried after batch 2 failed
    assert not any(str(uuid.UUID(int=200)) in b for b in delivered)

    tick["n"] = 2
    svc.run_loops(max_ticks=1)  # overlap re-fetch, nothing new
    c2 = cursor()
    assert c2 == (BASE + dt.timedelta(seconds=249), str(uuid.UUID(int=249)))
    assert c2[0] >= c1[0]

    events = spark.read.parquet(svc.paths["cf_audit_events"])
    assert events.count() == events.select("guid").distinct().count() == 250
    from collections import Counter

    counts = Counter(e["event"]["guid"] for e in hec_events(delivered))
    assert set(counts) == {str(uuid.UUID(int=i)) for i in range(250)}
    reshipped = {g for g, n in counts.items() if n > 1}
    assert reshipped == {str(uuid.UUID(int=i)) for i in range(100, 200)}
    assert len(reshipped) <= HEC_BATCH_EVENTS
    assert svc.totals.shipped == 250


def test_collector_never_reappends_rows_older_than_watermark(spark, tmp_path):
    """A source that ignores ``q=timestamp>`` returns, on every tick, rows
    older than the fetch watermark; each is stored once (ON CONFLICT
    (guid) DO NOTHING, store.go:92)."""
    cfg = EngineConfig()
    cfg.pagination_wait_s = 0.0
    svc = Service(
        spark, warehouse_dir=str(tmp_path / "whold"),
        transport=PageServer(range(20)), cfg=cfg,
    )
    svc.run_loops(max_ticks=1)
    svc.run_loops(max_ticks=1)
    events = spark.read.parquet(svc.paths["cf_audit_events"])
    assert events.count() == events.select("guid").distinct().count() == 20
    assert svc.totals.collected == 20


class PagedSource:
    """CF ``/v2/events`` stand-in over events ``0..visible-1``: pages of
    100 chained by ``next_url``, honouring ``q=timestamp>`` unless
    ``ignore_filter``; ``fail_page`` answers that page once with a 503."""

    def __init__(self, ignore_filter: bool = False, fail_page: int | None = None):
        self.visible = 0
        self.ignore_filter = ignore_filter
        self.fail_page = fail_page

    def __call__(self, url: str) -> dict:
        import urllib.error
        import urllib.parse

        from paas_auditor_spark.sources.paginated_http import TIME_FORMAT

        query = urllib.parse.parse_qs(urllib.parse.urlparse(url).query)
        since = dt.datetime.strptime(query["q"][0].split(">", 1)[1], TIME_FORMAT)
        page = int(query.get("page", ["1"])[0])
        if page == self.fail_page:
            self.fail_page = None
            raise urllib.error.HTTPError(url, 503, "Service Unavailable", {}, None)
        ids = [
            i for i in range(self.visible)
            if self.ignore_filter or BASE + dt.timedelta(seconds=i) > since
        ]
        more = page * 100 < len(ids)
        return {
            "total_results": len(ids),
            "total_pages": -(-len(ids) // 100),
            "next_url": (
                f"/v2/events?q={query['q'][0]}&page={page + 1}" if more else None
            ),
            "resources": [_resource(i) for i in ids[(page - 1) * 100:page * 100]],
        }


@pytest.mark.parametrize(
    "fault", ["hec_timeout", "cf_5xx", "old_rows", "commit_crash", "mid_tick_kill"]
)
def test_service_delivery_contract_under_faults(spark, tmp_path, fault):
    """The delivery contract under each injected fault, over three
    ``Service`` ticks sharing one warehouse: 200 events visible at tick 1,
    250 from tick 2.

    - ``hec_timeout``: every attempt at HEC batch 2 times out in tick 1;
    - ``cf_5xx``: CF page 2 answers 503 in tick 1, the collector raises
      (fail-fast) and the next tick recovers;
    - ``old_rows``: the source ignores ``q=timestamp>``;
    - ``commit_crash``: the cursor commit fails once after tick 2 shipped
      its one batch, as if the process died between the HEC ack and the
      commit.  The failed commit re-ships one batch;
    - ``mid_tick_kill``: tick 1 ships its 200 events as two batches and
      the commit after batch 2's ack fails, as if the process died there.
      Batch 1's commit stands, so exactly batch 2 (events 100-199)
      re-ships.

    Contract: every event delivered, stored rows equal distinct guids,
    the cursor only moves forward, at most one batch re-shipped."""
    import urllib.error
    from collections import Counter

    from paas_auditor_spark.streaming.ship import HEC_BATCH_EVENTS
    from paas_auditor_spark.stores import ParquetStore

    tick = {"n": 0}
    delivered: list[str] = []

    def hec(payload: str) -> None:
        delivered.append(payload)
        if (
            fault == "hec_timeout" and tick["n"] == 1
            and str(uuid.UUID(int=100)) in payload
        ):
            raise TimeoutError("HEC response timed out")

    def killed(shipped_id: str) -> bool:
        if fault == "commit_crash":
            return tick["n"] == 2
        return fault == "mid_tick_kill" and shipped_id == str(uuid.UUID(int=199))

    class Store(ParquetStore):
        crashes = 1

        def upsert_cursor(self, name, updated_at, shipped_id) -> None:
            if self.crashes and killed(shipped_id):
                self.crashes -= 1
                raise OSError("killed before the cursor commit")
            super().upsert_cursor(name, updated_at, shipped_id)

    cfg = EngineConfig()
    cfg.pagination_wait_s = 0.0
    source = PagedSource(
        ignore_filter=fault == "old_rows",
        fail_page=2 if fault == "cf_5xx" else None,
    )
    svc = Service(
        spark, store=Store(spark, str(tmp_path / "wh")), transport=source,
        sender=hec, cfg=cfg,
    )
    cursors = []
    for n, visible in ((1, 200), (2, 250), (3, 250)):
        tick["n"], source.visible = n, visible
        if fault == "cf_5xx" and n == 1:
            with pytest.raises(urllib.error.HTTPError):
                svc.run_loops(max_ticks=1)
        else:
            svc.run_loops(max_ticks=1)
        cursors.append(svc.store.effective_cursor(SHIPPER_NAME))

    events = spark.read.parquet(svc.store.events_dir)
    assert events.count() == events.select("guid").distinct().count() == 250
    counts = Counter(e["event"]["guid"] for e in hec_events(delivered))
    assert set(counts) == {str(uuid.UUID(int=i)) for i in range(250)}
    assert cursors == sorted(cursors)
    assert cursors[-1] == (
        BASE + dt.timedelta(seconds=249), str(uuid.UUID(int=249))
    )
    reshipped = {g for g, k in counts.items() if k > 1}
    assert len(reshipped) <= HEC_BATCH_EVENTS
    if fault == "mid_tick_kill":
        assert reshipped == {str(uuid.UUID(int=i)) for i in range(100, 200)}
    if fault in ("commit_crash", "mid_tick_kill"):
        # batches HEC acknowledged before the failed commit are counted
        assert svc.totals.shipped == svc.metrics.get(
            "cf_audit_events_to_splunk_shipper_events_shipped_total"
        )


def test_collector_metrics_scraped_after_good_and_failing_tick(spark, tmp_path):
    """/metrics shows the collector's duration after a good tick, the
    events its validation rejected, and its error counter after a failing
    tick, under both loop drivers."""
    from paas_auditor_spark.operators.ingest import REJECTED
    from paas_auditor_spark.streaming.metrics import HELP

    cfg = EngineConfig()
    cfg.pagination_wait_s = 0.0
    transport = PageServer([0, 1])
    svc = Service(
        spark, warehouse_dir=str(tmp_path / "whm"), transport=transport, cfg=cfg
    )
    server = svc.serve_metrics(port=0)

    def scrape() -> dict[str, float]:
        port = server.server_address[1]
        text = urllib.request.urlopen(
            f"http://127.0.0.1:{port}/metrics"
        ).read().decode()
        return {
            k: float(v)
            for k, v in (
                ln.split() for ln in text.splitlines() if not ln.startswith("#")
            )
        }

    try:
        svc.run_loops(max_ticks=1)
        m = scrape()
        assert m["cf_audit_event_collector_events_collected_total"] == 2
        assert m["cf_audit_event_collector_collect_duration_total"] > 0
        assert m["cf_audit_event_collector_errors_total"] == 0
        assert m[REJECTED] == 0 and REJECTED in HELP

        # an event at the epoch and one without a guid fail validation:
        # counted as rejected, never stored
        epoch, no_guid = _resource(2), _resource(3)
        epoch["metadata"]["created_at"] = "1970-01-01T00:00:00Z"
        no_guid["metadata"]["guid"] = None
        svc.transport = lambda url: {
            "next_url": None, "resources": [epoch, no_guid, _resource(4)]
        }
        svc.run_loops(max_ticks=1)
        m = scrape()
        assert m[REJECTED] == 2
        assert m["cf_audit_event_collector_events_collected_total"] == 3
        assert svc.store.event_count() == 3

        def down(url: str) -> dict:
            raise ConnectionError("CF API down")

        svc.transport = down
        with pytest.raises(ConnectionError):
            svc.run_loops(max_ticks=1)
        m2 = scrape()
        assert m2["cf_audit_event_collector_errors_total"] == 1
        assert (
            m2["cf_audit_event_collector_collect_duration_total"]
            == m["cf_audit_event_collector_collect_duration_total"]
        )

        # threaded deployment: the collector's error stops the service
        # (fail-fast policy) after counting it
        (thread,) = svc.run_threaded(loops=("collector",))
        thread.join(timeout=60)
        assert not thread.is_alive()
        assert scrape()["cf_audit_event_collector_errors_total"] == 2
    finally:
        svc.stop()
        server.shutdown()
        server.server_close()


def test_metrics_endpoint_serves_prometheus_text(spark, tmp_path):
    """/metrics is Prometheus text: each sample follows its ``# HELP`` and
    ``# TYPE`` lines, the reference's names typed counter or gauge, and a
    lazily registered name typed by its first use."""
    import re

    from paas_auditor_spark.streaming.metrics import COUNTERS, GAUGES

    svc = Service(spark, warehouse_dir=str(tmp_path / "wh"))
    svc.metrics.inc("custom_sink_shipper_events_shipped_total", 2)
    svc.metrics.set("custom_sink_shipper_latest_event_timestamp", 7)
    svc.informer_tick()
    server = svc.serve_metrics(port=0)
    try:
        port = server.server_address[1]
        text = urllib.request.urlopen(
            f"http://127.0.0.1:{port}/metrics"
        ).read().decode()
    finally:
        server.shutdown()
        server.server_close()

    lines = text.splitlines()
    assert text.endswith("\n") and len(lines) % 3 == 0
    types, values = {}, {}
    for help_line, type_line, sample in zip(*[iter(lines)] * 3):
        name = sample.split()[0]
        assert re.fullmatch(rf"# HELP {name} \S.*", help_line)
        kind = re.fullmatch(rf"# TYPE {name} (counter|gauge)", type_line)[1]
        types[name], values[name] = kind, float(sample.split()[1])
    assert {n: types[n] for n in COUNTERS} == dict.fromkeys(COUNTERS, "counter")
    assert {n: types[n] for n in GAUGES} == dict.fromkeys(GAUGES, "gauge")
    assert types["custom_sink_shipper_events_shipped_total"] == "counter"
    assert types["custom_sink_shipper_latest_event_timestamp"] == "gauge"
    assert values["custom_sink_shipper_events_shipped_total"] == 2
    assert values["informer_cf_audit_events_total"] == 0


def test_cursor_torn_write_recovery(spark, tmp_path):
    """A kill while the cursor file is being written leaves a torn
    ``shipper_cursors.json.tmp`` beside the committed file.  The committed
    cursor still rules, and the next tick ships only the new event."""
    transport = PageServer([0, 1, 2])
    sent: list[str] = []
    cfg = EngineConfig()
    cfg.pagination_wait_s = 0.0
    svc = Service(
        spark,
        warehouse_dir=str(tmp_path / "wh4"),
        transport=transport,
        sender=sent.append,
        cfg=cfg,
    )
    svc.run_loops(max_ticks=1)
    assert svc.totals.shipped == 3
    committed = svc.store.effective_cursor(SHIPPER_NAME)

    with open(svc.store.cursor_path + ".tmp", "w") as fh:
        fh.write('{"cf-audit-events-to-splunk": ["2099-01-')
    assert svc.store.effective_cursor(SHIPPER_NAME) == committed

    transport.ids = [3]
    svc.run_loops(max_ticks=1)
    assert svc.totals.shipped == 4
    assert json.loads(sent[-1])["event"]["guid"] == str(uuid.UUID(int=3))


def spark_jobs_of(spark, fn) -> list[int]:
    """Ids of the Spark jobs ``fn`` ran, from the status tracker.  The
    tracker is fed by the asynchronous listener bus, so a later probe
    job must show up first: every earlier job has then been seen."""
    import time

    sc = spark.sparkContext
    group, probe = f"under-test-{uuid.uuid4()}", f"probe-{uuid.uuid4()}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(probe, probe)
        try:
            sc.parallelize([0], 1).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 60
    while not tracker.getJobIdsForGroup(probe):
        assert time.monotonic() < deadline, "probe job never reported"
        time.sleep(0.05)
    return list(tracker.getJobIdsForGroup(group))


def test_parquet_cursor_runs_no_spark_job(spark, tmp_path):
    """The parquet store's cursor read and commit are file operations:
    no Spark job, where the parquet cursor table ran two for each."""
    from paas_auditor_spark.stores import ParquetStore

    store = ParquetStore(spark, str(tmp_path / "wh"))
    at = BASE + dt.timedelta(seconds=7)
    assert spark_jobs_of(spark, lambda: store.upsert_cursor("s", at, "g7")) == []
    got = []
    assert spark_jobs_of(
        spark, lambda: got.append(store.effective_cursor("s"))
    ) == []
    assert got == [(at, "g7")]
    # the probe sees jobs where there are some
    full_scan = spark.read.parquet(store.events_dir)
    assert spark_jobs_of(spark, full_scan.count)


def _data_files(store) -> int:
    """Data files in the events table, the empty one the warehouse init
    writes included."""
    import os

    return sum(
        not n.startswith(("_", ".")) for n in os.listdir(store.events_dir)
    )


def test_collector_tick_runs_one_spark_job_per_append(spark, tmp_path):
    """Validation, dedup, the batch floor and the anti-join run on the
    driver: a collector tick with fresh rows runs exactly one Spark job
    (the write) and commits exactly one file, and a tick that re-reads
    only the overlap runs none."""
    cfg = EngineConfig()
    cfg.pagination_wait_s = 0.0
    transport = PageServer(range(50))
    svc = Service(
        spark, warehouse_dir=str(tmp_path / "wh"), transport=transport, cfg=cfg
    )
    stored: list[int] = []
    tick = lambda: stored.append(svc.collector_tick())  # noqa: E731
    files = _data_files(svc.store)
    assert len(spark_jobs_of(spark, tick)) == 1
    assert _data_files(svc.store) == files + 1

    transport.ids = range(45, 120)  # the overlap re-read plus 70 new rows
    assert len(spark_jobs_of(spark, tick)) == 1
    assert _data_files(svc.store) == files + 2

    transport.ids = range(115, 120)  # only the overlap
    assert spark_jobs_of(spark, tick) == []
    assert _data_files(svc.store) == files + 2
    assert stored == [50, 70, 0]
    assert svc.store.event_count() == 120


def test_store_sink_micro_batch_runs_at_most_two_spark_jobs(spark, tmp_path):
    """The streaming sink collects the micro-batch (one job) and writes
    its fresh rows (one job, one file); a replayed batch writes nothing."""
    from paas_auditor_spark.sources.paginated_http import EVENT_ROWS, decode_pages
    from paas_auditor_spark.stores import ParquetStore
    from paas_auditor_spark.streaming.pipeline import store_sink

    store = ParquetStore(spark, str(tmp_path / "wh"))
    batch = spark.createDataFrame(
        list(decode_pages([{"resources": [_resource(i) for i in range(30)]}])),
        EVENT_ROWS,
    )
    sink = store_sink(store)
    files = _data_files(store)
    assert 1 <= len(spark_jobs_of(spark, lambda: sink(batch, 0))) <= 2
    assert _data_files(store) == files + 1
    assert len(spark_jobs_of(spark, lambda: sink(batch, 1))) <= 1
    assert _data_files(store) == files + 1
    assert store.event_count() == 30


@pytest.mark.parametrize("layout", ["table", "swap_crash"])
def test_parquet_store_imports_cursor_table(spark, tmp_path, layout):
    """A warehouse whose cursors are the ``shipper_cursors`` parquet table
    of earlier versions resumes from them, also when a crash between that
    version's two swap renames left only ``shipper_cursors._old``."""
    import os

    from paas_auditor_spark.functions.timecross import to_ts
    from paas_auditor_spark.stores import ParquetStore

    wh = tmp_path / "wh"
    table = str(wh / "shipper_cursors")
    spark.createDataFrame(
        [
            ("sink-a", "2024-03-01 12:00:05", "g5"),
            ("sink-b", "2024-03-01 13:30:00.250000", "g9"),
        ],
        "name string, updated_at string, shipped_id string",
    ).withColumn("updated_at", to_ts("updated_at")).write.parquet(table)
    if layout == "swap_crash":
        os.rename(table, table + "._old")

    store = ParquetStore(spark, str(wh))
    assert os.path.exists(store.cursor_path)
    want_a = (BASE + dt.timedelta(seconds=5), "g5")
    want_b = (dt.datetime(2024, 3, 1, 13, 30, 0, 250000), "g9")
    assert store.effective_cursor("sink-a") == want_a
    assert store.effective_cursor("sink-b") == want_b
    assert store.effective_cursor("sink-c") == (EPOCH_TS, "")

    # the file marks the import done: a commit survives a restart
    store.upsert_cursor("sink-a", BASE + dt.timedelta(seconds=6), "g6")
    again = ParquetStore(spark, str(wh))
    assert again.effective_cursor("sink-a") == (
        BASE + dt.timedelta(seconds=6), "g6"
    )
    assert again.effective_cursor("sink-b") == want_b


def test_service_jdbc_store_end_to_end(spark, tmp_path):
    """ENGINE_STORE=jdbc path: the reference-shaped relational store —
    DDL bootstrap (W5), ON CONFLICT ingest in one transaction (W1), the
    shipper CTE delegated to the database (store.go:191-225), ON CONFLICT
    DO UPDATE cursor (W2) — one service run, DuckDB as the DB-API
    destination."""
    import duckdb

    from paas_auditor_spark.stores import DbApiStore, dbapi_factory

    db = str(tmp_path / "store.duckdb")
    store = DbApiStore(dbapi_factory("duckdb", db))
    transport = PageServer([0, 1, 2])
    sent: list[str] = []
    cfg = EngineConfig()
    cfg.pagination_wait_s = 0.0
    svc = Service(
        spark, transport=transport, sender=sent.append, cfg=cfg, store=store
    )

    svc.run_loops(max_ticks=1)
    assert svc.totals.collected == 3
    assert svc.totals.shipped == 3

    # cursor row landed in the database (W2), at the last shipped event
    # (connection closed before the next tick: a DuckDB file is
    # single-writer)
    con = duckdb.connect(db)
    cur = con.execute("SELECT name, shipped_id FROM shipper_cursors").fetchall()
    con.close()
    assert cur == [(SHIPPER_NAME, str(uuid.UUID(int=2)))]

    # tick 2: overlap re-fetch + new events — ON CONFLICT + anti-join keep
    # the table exact; only the new events ship, resuming from the cursor
    transport.ids = [1, 2, 3, 4]
    svc.run_loops(max_ticks=1)
    assert svc.totals.collected == 5
    assert svc.totals.shipped == 5
    con = duckdb.connect(db)
    n, = con.execute("SELECT count(*) FROM cf_audit_events").fetchone()
    con.close()
    assert n == 5

    guids = [e["event"]["guid"] for e in hec_events(sent)]
    assert len(guids) == len(set(guids)) == 5
    # full 13-field envelope also on the DB path (P13)
    ev = hec_events(sent)[0]["event"]
    assert ev["actor_username"] == "u-0" and ev["metadata"] == {"request": "r0"}
    # informer gauges read through the store
    svc.informer_tick()
    assert svc.metrics.get("informer_cf_audit_events_total") == 5.0


def test_dbapi_append_is_on_conflict_do_nothing(tmp_path):
    """W1 on ``DbApiStore``: one ``INSERT … ON CONFLICT (guid) DO
    NOTHING`` batch swallows in-batch duplicates, a full replay changes
    nothing, and the first insert of a guid wins."""
    import duckdb

    from paas_auditor_spark.stores import DbApiStore, dbapi_factory

    db = str(tmp_path / "dest.duckdb")
    store = DbApiStore(dbapi_factory("duckdb", db))
    at = BASE.replace(tzinfo=dt.timezone.utc)

    def row(i: int, actor: str) -> tuple:
        return (str(i), at + dt.timedelta(seconds=i), "t", actor,
                *["x"] * 8, None)

    rows = [row(i, f"p{i}") for i in range(50)] + [row(7, "dup"), row(9, "dup")]
    store.append_events(rows)
    con = duckdb.connect(db)
    before = con.execute("SELECT * FROM cf_audit_events ORDER BY guid").fetchall()
    con.close()
    store.append_events(rows)  # replay: the overlap re-read analog

    con = duckdb.connect(db)
    after = con.execute("SELECT * FROM cf_audit_events ORDER BY guid").fetchall()
    first7, = con.execute(
        "SELECT actor FROM cf_audit_events WHERE guid = '7'"
    ).fetchone()
    con.close()
    assert len(before) == 50  # ON CONFLICT swallowed the in-batch dups
    assert after == before  # and the full replay
    assert first7 == "p7"  # first insert wins, conflicting rows ignored
    assert store.event_count() == 50


@pytest.mark.parametrize("kind", ["parquet", "dbapi"])
def test_ship_tick_runs_no_spark_job(spark, tmp_path, kind):
    """The shipper reads its window and builds its envelopes on the
    driver: a tick that ships runs no Spark job on either store, and on
    ``DbApiStore`` neither does a collector tick that stores rows."""
    from paas_auditor_spark.stores import DbApiStore, ParquetStore, dbapi_factory

    if kind == "parquet":
        store = ParquetStore(spark, str(tmp_path / "wh"))
    else:
        store = DbApiStore(dbapi_factory("duckdb", str(tmp_path / "s.duckdb")))
    cfg = EngineConfig()
    cfg.pagination_wait_s = 0.0
    sent: list[str] = []
    svc = Service(
        spark, transport=PageServer(range(30)), sender=sent.append, cfg=cfg,
        store=store,
    )
    stored: list[int] = []
    jobs = spark_jobs_of(spark, lambda: stored.append(svc.collector_tick()))
    assert stored == [30]
    assert len(jobs) == (1 if kind == "parquet" else 0)
    shipped: list[int] = []
    assert spark_jobs_of(spark, lambda: shipped.append(svc.shipper_tick())) == []
    assert shipped == [30]
    assert len(hec_events(sent)) == 30
    # the probe sees jobs where there are some
    assert spark_jobs_of(spark, lambda: spark.range(3).count())


def test_run_threaded_loop_subset_for_streaming_mode(spark, tmp_path):
    """ENGINE_MODE=streaming runs only shipper+informer as loops (the
    collector is a Structured Streaming query); the loop subset must skip
    the collector tick entirely and still honor the shipper creds gate."""
    import time

    cfg = EngineConfig()
    cfg.informer_schedule_s = 0.05
    svc = Service(
        spark,
        warehouse_dir=str(tmp_path / "wh"),
        transport=None,  # a collector tick would crash on None transport
        sender=None,  # no creds → shipper thread must not start either
        cfg=cfg,
    )
    threads = svc.run_threaded(loops=("shipper", "informer"))
    assert len(threads) == 1  # informer only
    time.sleep(0.3)
    svc.stop()
    for t in threads:
        t.join(timeout=10)
    assert all(not t.is_alive() for t in threads)
    assert svc.totals.collected == 0


def test_collector_failure_stops_threaded_service(spark, tmp_path):
    """main.go:92-97 parity: a collector error ends the process.  In the
    threaded deployment it stops every loop, the working shipper and the
    informer included, instead of leaving a service that never collects
    again; the failure is counted and recorded."""
    import time

    cfg = EngineConfig()
    cfg.collector_schedule_s = 0.2
    cfg.shipper_schedule_s = 0.2
    cfg.informer_schedule_s = 0.2

    def down(url: str) -> dict:
        raise ConnectionError("CF API down")

    sent: list[str] = []
    svc = Service(
        spark,
        warehouse_dir=str(tmp_path / "wh"),
        transport=down,
        sender=sent.append,
        cfg=cfg,
    )
    threads = svc.run_threaded()
    try:
        deadline = time.monotonic() + 30
        for t in threads:
            t.join(timeout=max(0.0, deadline - time.monotonic()))
        assert [t.is_alive() for t in threads] == [False] * len(threads)
        assert len(threads) == 3  # collector, shipper, informer
        assert svc.metrics.get("cf_audit_event_collector_errors_total") == 1
        assert isinstance(svc.collector_error, ConnectionError)
    finally:
        svc.stop()


def test_main_exits_1_when_collector_fails(spark, tmp_path, monkeypatch):
    """``python -m paas_auditor_spark`` returns 1 after its collector
    fails, instead of waiting on the other loops forever."""
    import http.server
    import threading

    from paas_auditor_spark import __main__ as cli

    class Gone(http.server.BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            self.send_response(404)  # not retried by the CF client
            self.end_headers()

        def log_message(self, *args):
            pass

    cf = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Gone)
    threading.Thread(target=cf.serve_forever, daemon=True).start()
    host, port = cf.server_address
    for name in ("ENGINE_MODE", "ENGINE_STORE", "SPLUNK_HEC_ENDPOINT_URL",
                 "CF_TOKEN", "CF_CLIENT_ID", "CF_USERNAME"):
        monkeypatch.delenv(name, raising=False)
    monkeypatch.setenv("CF_API_ADDRESS", f"http://{host}:{port}")
    monkeypatch.setenv("ENGINE_WAREHOUSE", str(tmp_path / "wh"))
    monkeypatch.setenv("PORT", "0")
    monkeypatch.setenv("COLLECTOR_SCHEDULE", "200ms")
    monkeypatch.setenv("INFORMER_SCHEDULE", "200ms")
    # the CLI installs SIGINT/SIGTERM handlers; keep pytest's own
    monkeypatch.setattr(cli.signal, "signal", lambda *args: None)

    codes: list[int] = []
    runner = threading.Thread(target=lambda: codes.append(cli.main()))
    runner.daemon = True
    try:
        runner.start()
        runner.join(timeout=60)
        assert not runner.is_alive()
        assert codes == [1]
    finally:
        cf.shutdown()
        cf.server_close()


def test_service_soak_ticks_restart(spark, tmp_path):
    """The service soak: 24 collect→ship→inform ticks over an advancing,
    overlapping event window, one sink-outage tick (at-least-once
    re-ship) and a kill/restart of the whole service at the halfway
    point.  Pins: cursor monotonicity across every tick, the cursor
    standing still through the outage, zero lost events (store exact,
    every event shipped at least once) and no duplicate STORE rows."""
    cfg = EngineConfig()
    cfg.pagination_wait_s = 0.0
    transport = PageServer([])
    sent: list[str] = []
    n_ticks = 24

    def make_service():
        return Service(
            spark,
            warehouse_dir=str(tmp_path / "wh_soak"),
            transport=transport,
            sender=sent.append,
            cfg=cfg,
        )

    svc = make_service()

    def boom(payload: str) -> None:
        raise RuntimeError("sink outage")

    all_ids: set[int] = set()
    last_cursor = (dt.datetime(1970, 1, 1), "")
    for t in range(n_ticks):
        ids = list(range(max(0, 3 * t - 2), 3 * t + 3))  # overlap 2 per tick
        all_ids.update(ids)
        transport.ids = ids
        if t == 7:
            svc.sender = boom  # one outage tick: shipper logs + continues
        svc.run_loops(max_ticks=1)
        if t == 7:
            svc.sender = sent.append

        cur = svc.store.effective_cursor(SHIPPER_NAME)
        assert cur[0] >= last_cursor[0]  # T4: monotone, even through outage
        if t == 7:
            assert cur == last_cursor  # outage tick: cursor stays put
        last_cursor = cur

        if t == n_ticks // 2:  # kill/restart: new process state, same disk
            svc = make_service()

    # zero lost events, no store duplicates
    events = spark.read.parquet(svc.paths["cf_audit_events"])
    assert events.count() == len(all_ids)
    assert events.select("guid").distinct().count() == len(all_ids)
    want_guids = {str(uuid.UUID(int=i)) for i in all_ids}
    shipped = hec_events(sent)
    got_guids = {e["event"]["guid"] for e in shipped}
    assert got_guids == want_guids  # every event shipped ≥ once
    # duplicates only from the at-least-once re-ship after the outage
    assert len(shipped) >= len(want_guids)
