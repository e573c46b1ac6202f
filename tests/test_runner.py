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
from paas_auditor_spark.sources.bootstrap import CURSORS_TABLE

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
    cursors = spark.read.parquet(svc.paths[CURSORS_TABLE]).collect()
    assert len(cursors) == 1 and cursors[0]["name"] == SHIPPER_NAME
    assert cursors[0]["shipped_id"] == str(uuid.UUID(int=2))

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
    # cursor table untouched (no silent epoch ship)
    assert spark.read.parquet(svc.paths[CURSORS_TABLE]).count() == 0
    # threaded deployment: collector + informer + maintenance loops spawn
    # (no shipper without creds; maintenance always arms — ADVICE r7)
    assert len(svc.run_threaded()) == 3
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
    response never came back), tick 2 is healthy.  The delivery contract
    holds: every event delivered, no duplicate stored rows, a cursor that
    only moves forward, and at most one batch re-shipped."""
    import urllib.parse

    from paas_auditor_spark.sinks.hec import HEC_BATCH_EVENTS
    from paas_auditor_spark.sources.paginated_http import TIME_FORMAT

    class FilteringPageServer(PageServer):
        """Honours ``q=timestamp>`` like the CF API.  A source that ignores
        it makes the collector re-append old events — a separate known
        defect of the watermark-bounded anti-join, not under test here."""

        def __call__(self, url: str) -> dict:
            q = urllib.parse.parse_qs(urllib.parse.urlparse(url).query)["q"][0]
            since = dt.datetime.strptime(q.split(">", 1)[1], TIME_FORMAT)
            page = super().__call__(url)
            page["resources"] = [
                r for r in page["resources"]
                if dt.datetime.strptime(
                    r["metadata"]["created_at"], TIME_FORMAT
                ) > since
            ]
            page["total_results"] = len(page["resources"])
            return page

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
        transport=FilteringPageServer(range(250)),
        sender=hec,
        cfg=cfg,
    )

    def cursor():
        rows = spark.read.parquet(svc.paths[CURSORS_TABLE]).collect()
        assert len(rows) == 1
        return rows[0]["updated_at"], rows[0]["shipped_id"]

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


# the threaded collector's fail-fast exit is the behaviour under test
@pytest.mark.filterwarnings("ignore::pytest.PytestUnhandledThreadExceptionWarning")
def test_collector_metrics_scraped_after_good_and_failing_tick(spark, tmp_path):
    """/metrics shows the collector's duration after a good tick and its
    error counter after a failing one, under both loop drivers."""
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
        return {k: float(v) for k, v in (ln.split() for ln in text.splitlines())}

    try:
        svc.run_loops(max_ticks=1)
        m = scrape()
        assert m["cf_audit_event_collector_events_collected_total"] == 2
        assert m["cf_audit_event_collector_collect_duration_total"] > 0
        assert m["cf_audit_event_collector_errors_total"] == 0

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

        # threaded deployment: the collector thread dies on its error
        # (fail-fast policy) after counting it
        (thread,) = svc.run_threaded(loops=("collector",))
        thread.join(timeout=60)
        assert not thread.is_alive()
        assert scrape()["cf_audit_event_collector_errors_total"] == 2
    finally:
        svc.stop()
        server.shutdown()
        server.server_close()


def test_cursor_swap_crash_recovery(spark, tmp_path):
    """A crash between the two swap renames leaves only `._old`; the next
    read heals it and the shipper resumes from the committed cursor."""
    import os

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

    # simulate the torn swap: cursors dir renamed away, new one never landed
    path = svc.paths[CURSORS_TABLE]
    os.rename(path, path + "._old")

    transport.ids = [3]
    svc.run_loops(max_ticks=1)  # read heals from ._old; only event 3 ships
    assert svc.totals.shipped == 4
    import json as _json

    assert _json.loads(sent[-1])["event"]["guid"] == str(uuid.UUID(int=3))


def test_service_jdbc_store_end_to_end(spark, tmp_path):
    """ENGINE_STORE=jdbc path: the reference-shaped relational store —
    DDL bootstrap (W5), partition-wise ON CONFLICT ingest (W1), the
    shipper CTE delegated to the database (store.go:191-225), ON CONFLICT
    DO UPDATE cursor (W2) — one service run, DuckDB as the DB-API
    destination."""
    import duckdb

    from paas_auditor_spark.sinks.jdbc import dbapi_factory
    from paas_auditor_spark.stores import DbApiStore

    db = str(tmp_path / "store.duckdb")
    store = DbApiStore(
        spark, dbapi_factory("duckdb", db), write_partitions=1
    )
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
    # (connection must be closed before the next tick: a DuckDB file is
    # single-writer, and the store's appends run from executor processes)
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


def test_maintenance_loop_compacts_registered_collectors(spark, tmp_path):
    """The engine's fourth loop: a collector dataset registered with the
    service gets its batch dirs folded by maintenance_tick once
    min_batches accumulate — reads bit-identical, the returned hook is
    the LOCKED one (commit and fold mutually exclusive), and below the
    churn guard nothing folds."""
    from pyspark.sql import functions as F

    from paas_auditor_spark.operators.bloom import (
        bloom_assemble,
        bloom_words_collector,
        bloom_words_read,
    )

    svc = Service(spark, warehouse_dir=str(tmp_path / "wh"))
    path = str(tmp_path / "words")
    m, k = 1 << 12, 3
    hook = svc.register_collector_dataset(
        path, bloom_words_collector("k", path, m=m, k=k), min_batches=3
    )

    def keys(lo, hi):
        return spark.range(lo, hi).select(
            F.concat(F.lit("w"), F.col("id").cast("string")).alias("k")
        )

    def blob():
        return bytes(
            bloom_assemble(bloom_words_read(spark, path)).collect()[0]["bloom"]
        )

    hook(keys(0, 50), 0)
    hook(keys(50, 90), 1)
    assert svc.maintenance_tick() == 0  # churn guard: below min_batches
    hook(keys(90, 140), 2)
    before = blob()
    assert svc.maintenance_tick() == 3
    assert blob() == before
    # post-fold appends land in the live generation and the next tick
    # stays quiet until the guard trips again
    hook(keys(140, 160), 3)
    assert svc.maintenance_tick() == 0
    assert blob() != before


def test_maintenance_fold_materializes_minhash_collapse(spark, tmp_path):
    """A MinHash gate dataset enrolled with the custom ``fold`` hook
    (r10): the maintenance tick runs minhash_fold instead of the
    generic compaction, so after the tick the stored collapse is GLOBAL
    (_global=true, cross-batch duplicate groups share one _rep) and the
    probe result is unchanged — the deployment wiring for the
    materialized probe."""
    from paas_auditor_spark.operators.atomic import batch_data_paths
    from paas_auditor_spark.operators.dedup import (
        minhash_fold,
        minhash_incremental_persisted,
        minhash_index_collector,
    )

    svc = Service(spark, warehouse_dir=str(tmp_path / "wh"))
    path = str(tmp_path / "mh")
    hook = svc.register_collector_dataset(
        path,
        minhash_index_collector(path, num_hashes=24, num_bands=12),
        parts=("collapse", "bands", "sets"),
        min_batches=2,
        fold=lambda sp, tomb: minhash_fold(
            sp, path, tombstone_path=tomb, defer_delete=True
        ),
    )
    boiler = ("alpha beta gamma delta epsilon zeta eta theta iota "
              "kappa lambda mu nu xi omicron pi rho sigma tau shared")
    hook(spark.createDataFrame([(1, boiler)], ["doc_id", "text"]), 0)
    hook(spark.createDataFrame([(2, boiler)], ["doc_id", "text"]), 1)

    new = spark.createDataFrame(
        [(900, boiler + " extra")], ["doc_id", "text"]
    )

    def gate():
        return sorted(
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in minhash_incremental_persisted(
                spark, path, new,
                threshold=0.5, num_hashes=24, num_bands=12,
            ).collect()
        )

    before = gate()
    assert {b for _, b, _ in before} == {1, 2}
    assert svc.maintenance_tick() == 2
    collapse = spark.read.parquet(
        *batch_data_paths(path, "rename", "collapse")
    ).collect()
    assert all(r["_global"] for r in collapse)
    assert {r["_rep"] for r in collapse} == {1}  # cross-batch group folded
    assert gate() == before


def test_maintenance_delta_volume_guard(spark, tmp_path):
    """max_delta_fraction (r10): once a folded generation exists, the
    maintenance tick folds as soon as the UNFOLDED batch dirs' bytes
    exceed the fraction of the fold artifact's — fold cadence follows
    ingest volume, not tick count.  The first fold still goes through
    min_batches (no folded baseline before it)."""
    from paas_auditor_spark.operators.dedup import (
        minhash_fold,
        minhash_index_collector,
    )

    svc = Service(spark, warehouse_dir=str(tmp_path / "wh"))
    path = str(tmp_path / "mh")
    hook = svc.register_collector_dataset(
        path,
        minhash_index_collector(path, num_hashes=24, num_bands=12),
        parts=("collapse", "bands", "sets"),
        min_batches=3,
        max_delta_fraction=0.5,
        fold=lambda sp, tomb: minhash_fold(
            sp, path, tombstone_path=tomb, defer_delete=True
        ),
    )

    def docs(lo, hi):
        return spark.createDataFrame(
            [(i, f"document number {i} about storage engines and "
                 f"columnar formats and shuffles {i}")
             for i in range(lo, hi)],
            ["doc_id", "text"],
        )

    hook(docs(0, 20), 0)
    assert svc.maintenance_tick() == 0  # no generation, 1 < min_batches
    hook(docs(20, 40), 1)
    hook(docs(40, 60), 2)
    assert svc.maintenance_tick() == 3  # count guard: the FIRST fold

    # one comparable-size delta batch: count guard quiet (2 < 3), but
    # the volume guard trips (delta bytes ≈ artifact bytes > 0.5×)
    hook(docs(60, 90), 3)
    assert svc.maintenance_tick() == 2


def test_maintenance_loop_scheduled_and_vacuums(spark, tmp_path):
    """run_threaded actually schedules the maintenance loop (the default
    loops tuple includes it; it arms only when a dataset is registered),
    and successive ticks vacuum what the previous tick's deferred fold
    superseded — the one-interval grace discipline."""
    import os

    from pyspark.sql import functions as F

    from paas_auditor_spark.operators.bloom import bloom_words_collector

    svc = Service(spark, warehouse_dir=str(tmp_path / "wh"))
    # ADVICE r7 (medium): the loop arms even with NO dataset registered
    # yet — the streaming deployment calls run_threaded before its
    # collectors register, so a call-time gate left the loop dead.  A
    # tick over the empty list is a no-op, not an error.
    threads = svc.run_threaded(loops=("maintenance",))
    assert len(threads) == 1
    svc.stop()
    assert svc.maintenance_tick() == 0  # empty dataset list: no-op
    path = str(tmp_path / "words")
    hook = svc.register_collector_dataset(
        path, bloom_words_collector("k", path, m=1 << 12, k=3), min_batches=2
    )

    for i in range(3):
        hook(
            spark.range(i * 20, (i + 1) * 20).select(
                F.concat(F.lit("m"), F.col("id").cast("string")).alias("k")
            ),
            i,
        )
    assert svc.maintenance_tick() == 3  # fold, deletes deferred
    assert [d for d in os.listdir(path) if d.startswith("batch-")]
    assert svc.maintenance_tick() == 0  # next tick: vacuum, below guard
    assert not [d for d in os.listdir(path) if d.startswith("batch-")]


def test_maintenance_fold_applies_tombstones(spark, tmp_path):
    """A collector dataset registered WITH a tombstone relation gets its
    deleted rows physically dropped by the regular maintenance fold —
    no extra fold scheduling, the read-time anti-join covers the gap
    between folds.  After the tick: the raw index holds only survivors,
    and a tombstone-blind read scores exactly like an index that never
    held the deleted docs."""
    from paas_auditor_spark.operators.atomic import (
        batch_data_paths,
        tombstones_collector,
    )
    from paas_auditor_spark.operators.ranking import (
        bm25_from_postings,
        bm25_scores,
        postings_collector,
    )

    rows = [
        (1, "table table scan"),
        (2, "merge sort table"),
        (3, "hash join hash"),
        (4, "scan scan merge hash table"),
        (5, "window frame sort"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = str(tmp_path / "idx")
    tomb = str(tmp_path / "tomb")
    svc = Service(spark, warehouse_dir=str(tmp_path / "wh"))
    hook = svc.register_collector_dataset(
        idx,
        postings_collector(idx),
        parts=("postings", "doclens"),
        min_batches=2,
        tombstone_path=tomb,
    )
    hook(docs.filter("doc_id <= 3"), 0)
    hook(docs.filter("doc_id > 3"), 1)
    tombstones_collector(tomb)(
        spark.createDataFrame([(4,)], "doc_id long"), 0
    )

    assert svc.maintenance_tick() == 2
    stored = {
        r["doc_id"]
        for r in spark.read.parquet(
            *batch_data_paths(idx, "rename", "doclens")
        ).collect()
    }
    assert stored == {1, 2, 3, 5}
    survivors = docs.filter("doc_id != 4")
    want = {
        (r["doc_id"], round(r["score"], 6))
        for r in bm25_scores(survivors, ["table", "hash"]).collect()
    }
    got = {
        (r["doc_id"], round(r["score"], 6))
        for r in bm25_from_postings(spark, idx, ["table", "hash"]).collect()
    }
    assert got == want


def test_maintenance_custom_fold_receives_tombstones(spark, tmp_path):
    """r11 (r10 advice): a dataset registered with BOTH a custom fold
    and a tombstone relation has the tombstone path passed INTO the
    fold callable, so fold-time physical reclamation holds for
    materializing folds by construction — after the tick the MinHash
    index's parts hold only survivors and the stored representative
    shifts to the surviving copy on disk (not just at read time)."""
    from paas_auditor_spark.operators.atomic import (
        batch_data_paths,
        tombstones_collector,
    )
    from paas_auditor_spark.operators.dedup import (
        minhash_fold,
        minhash_index_collector,
    )

    svc = Service(spark, warehouse_dir=str(tmp_path / "wh"))
    path = str(tmp_path / "mh")
    tomb = str(tmp_path / "tomb")
    hook = svc.register_collector_dataset(
        path,
        minhash_index_collector(path, num_hashes=24, num_bands=12),
        parts=("collapse", "bands", "sets"),
        min_batches=2,
        tombstone_path=tomb,
        fold=lambda sp, tp: minhash_fold(
            sp, path, tombstone_path=tp, defer_delete=True
        ),
    )
    boiler = ("alpha beta gamma delta epsilon zeta eta theta iota "
              "kappa lambda mu nu xi omicron pi rho sigma tau shared")
    hook(spark.createDataFrame([(1, boiler)], ["doc_id", "text"]), 0)
    hook(spark.createDataFrame([(2, boiler)], ["doc_id", "text"]), 1)
    tombstones_collector(tomb)(
        spark.createDataFrame([(1,)], "doc_id long"), 0
    )

    assert svc.maintenance_tick() == 2
    for part in ("collapse", "bands", "sets"):
        ids = {
            r["doc_id"]
            for r in spark.read.option("mergeSchema", "true")
            .parquet(*batch_data_paths(path, "rename", part))
            .select("doc_id")
            .collect()
        }
        assert ids == {2}, part  # doc 1 physically reclaimed
    collapse = spark.read.parquet(
        *batch_data_paths(path, "rename", "collapse")
    ).collect()
    assert {r["_rep"] for r in collapse} == {2}  # rep shifted on disk


@pytest.mark.parametrize(
    "crash_point", ["gen_renamed_no_flip", "flipped_no_cleanup"]
)
def test_service_restart_after_kill_during_fold(
    spark, tmp_path, monkeypatch, crash_point
):
    """Round-10 soak variant pulled forward: the soak test kills the
    service BETWEEN ticks; this one kills it IN THE MIDDLE of a
    maintenance fold, at both kill windows a real SIGKILL can hit —
    (a) after the new generation dir is renamed into place but before
    the CURRENT pointer flips (readers must keep resolving the OLD
    generation; the orphan gen must not wedge later folds), and
    (b) after the flip but before the post-flip rescue/cleanup sweep
    (readers resolve the NEW generation; stale v1 batch dirs must be
    vacuumed, not double-counted).  After restart: reads bit-identical
    to a one-shot filter, the next fold succeeds, and pre-kill batch
    ids stay replay-suppressed."""
    import os

    from pyspark.sql import functions as F

    from paas_auditor_spark.operators import atomic
    from paas_auditor_spark.operators.bloom import (
        bloom_assemble,
        bloom_words,
        bloom_words_collector,
        bloom_words_read,
    )

    m, k = 1 << 13, 3
    path = str(tmp_path / "words")

    def make_service():
        svc = Service(spark, warehouse_dir=str(tmp_path / "wh"))
        hook = svc.register_collector_dataset(
            path, bloom_words_collector("k", path, m=m, k=k), min_batches=3
        )
        return svc, hook

    def keys(lo, hi):
        return spark.range(lo, hi).select(
            F.concat(F.lit("w"), F.col("id").cast("string")).alias("k")
        )

    def assembled():
        return bytes(
            bloom_assemble(bloom_words_read(spark, path)).collect()[0]["bloom"]
        )

    def one_shot(hi):
        return bytes(
            bloom_assemble(bloom_words(keys(0, hi), "k", m=m, k=k))
            .collect()[0]["bloom"]
        )

    svc, hook = make_service()
    for i in range(3):
        hook(keys(i * 40, (i + 1) * 40), i)

    class SimKill(BaseException):
        """Simulated SIGKILL: BaseException so no except-Exception
        policy in the stack can swallow it."""

    if crash_point == "gen_renamed_no_flip":
        real_rename = os.rename

        def killer(src, dst):
            if os.path.basename(dst) == atomic._CURRENT:
                raise SimKill()  # gen dir landed; pointer never flips
            return real_rename(src, dst)

        monkeypatch.setattr(atomic.os, "rename", killer)
    else:

        def killer_rescue(old_root, new_root):
            raise SimKill()  # flip landed; rescue/cleanup never ran

        monkeypatch.setattr(atomic, "_rescue_unfolded", killer_rescue)

    with pytest.raises(SimKill):
        svc.maintenance_tick()
    monkeypatch.undo()

    if crash_point == "gen_renamed_no_flip":
        # pointer never flipped: readers resolve the pre-fold layout and
        # the orphaned generation is invisible
        assert not os.path.exists(os.path.join(path, atomic._CURRENT))
        assert os.path.isdir(os.path.join(path, "gen-0"))
    else:
        assert atomic.collector_root(path).endswith("gen-0")
    assert assembled() == one_shot(120)  # reads correct immediately

    # restart: same disk, fresh process state
    svc, hook = make_service()
    assert assembled() == one_shot(120)

    # pre-kill ids stay replay-suppressed across the kill + restart in
    # the flipped case (the fold's floor landed with the flip); in the
    # no-flip case the fold never became visible, so the replay re-lands
    # harmlessly identical bits (idempotent OR) — either way the filter
    # is unchanged
    hook(keys(0, 40), 0)
    assert assembled() == one_shot(120)

    # accumulate to the churn guard again; the next fold must succeed,
    # skipping over / superseding whatever the kill left behind.  The
    # guard counts DELTA dirs: once a folded generation exists its
    # batch-0 is the fold artifact, not ingest churn (r10 advice)
    def _delta_dirs():
        root = atomic.collector_root(path)
        return sum(
            1
            for d in os.listdir(root)
            if d.startswith("batch-")
            and not (root != path and d == "batch-0")
        )

    next_id = 3
    while _delta_dirs() < 3:
        hook(keys(next_id * 40, (next_id + 1) * 40), next_id)
        next_id += 1
    folded = svc.maintenance_tick()
    assert folded >= 3
    hi = next_id * 40
    assert assembled() == one_shot(hi)
    assert os.path.exists(os.path.join(path, atomic._CURRENT))

    # replay of a folded id is suppressed by the new floor
    hook(keys(0, 40), 1)
    assert assembled() == one_shot(hi)

    # a later vacuum (past the in-flight grace window) reaps the kill's
    # leftovers without touching the live generation
    atomic.vacuum_superseded(path, retain=0, orphan_age_s=0.0)
    live = os.path.basename(atomic.collector_root(path))
    leftovers = [
        d
        for d in os.listdir(path)
        if d != live and d != atomic._CURRENT and not d.startswith(".CURRENT")
    ]
    assert leftovers == []
    assert assembled() == one_shot(hi)


@pytest.mark.parametrize("protocol,n_ticks", [("rename", 24), ("marker", 12)])
def test_service_soak_ticks_compaction_restart(
    spark, tmp_path, protocol, n_ticks
):
    """r8 verdict task #8 — the streaming SOAK: all four loops together
    over an advancing overlapping event window, with the bloom collector
    dataset live (min_batches=5, so compaction fires mid-run several
    times under the new rescue/pointer protocol), one sink-outage tick
    (at-least-once re-ship), and a kill/restart of the whole service at
    the halfway point.  Pins: cursor monotonicity across every tick,
    zero lost events (store exact, every event shipped at least once),
    no duplicate STORE rows, and the collector dataset assembling
    bit-identical to a one-shot filter over the distinct union of keys
    despite folds + restart.  Runs under BOTH commit protocols (r9, the
    round-10 candidate pulled forward): 24 ticks rename, 12 ticks marker
    (the object-store variant exercises the link-publish + marker-aware
    rescue machinery; fewer ticks keep the doubled soak inside the suite
    budget)."""
    import os

    from pyspark.sql import functions as F

    from paas_auditor_spark.functions.timecross import parse_wall  # noqa: F401
    from paas_auditor_spark.operators.bloom import (
        bloom_assemble,
        bloom_words,
        bloom_words_collector,
        bloom_words_read,
    )

    cfg = EngineConfig()
    cfg.pagination_wait_s = 0.0
    transport = PageServer([])
    sent: list[str] = []
    bloom_path = str(tmp_path / "soak_words")
    m, k = 1 << 14, 4

    def make_service():
        svc = Service(
            spark,
            warehouse_dir=str(tmp_path / "wh_soak"),
            transport=transport,
            sender=sent.append,
            cfg=cfg,
        )
        hook = svc.register_collector_dataset(
            bloom_path,
            bloom_words_collector(
                "k", bloom_path, m=m, k=k, protocol=protocol
            ),
            min_batches=5,
            protocol=protocol,
        )
        return svc, hook

    svc, hook = make_service()

    def boom(payload: str) -> None:
        raise RuntimeError("sink outage")

    all_ids: set[int] = set()
    last_cursor = (dt.datetime(1970, 1, 1), "")
    folds = 0
    for t in range(n_ticks):
        ids = list(range(max(0, 3 * t - 2), 3 * t + 3))  # overlap 2 per tick
        all_ids.update(ids)
        transport.ids = ids
        if t == 7:
            svc.sender = boom  # one outage tick: shipper logs + continues
        svc.run_loops(max_ticks=1)
        if t == 7:
            svc.sender = sent.append
        # feed the collector dataset its own per-tick key batch (replays
        # of overlapping keys only re-OR identical bits)
        hook(
            spark.createDataFrame(
                [(f"key-{i}",) for i in ids], "k string"
            ),
            t,
        )
        folds += svc.maintenance_tick()

        cursors = spark.read.parquet(svc.paths[CURSORS_TABLE]).collect()
        assert len(cursors) == 1
        cur = (cursors[0]["updated_at"], cursors[0]["shipped_id"])
        assert cur[0] >= last_cursor[0]  # T4: monotone, even through outage
        if t == 7:
            assert cur == last_cursor  # outage tick: cursor stays put
        last_cursor = cur

        if t == n_ticks // 2:  # kill/restart: new process state, same disk
            svc, hook = make_service()

    # at least two mid-run folds actually happened, through the restart
    assert folds >= (10 if n_ticks >= 24 else 5)
    assert os.path.exists(os.path.join(bloom_path, "CURRENT"))

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

    # collector dataset: folds + restart are invisible — bit-identical
    # to a one-shot filter over the distinct union of keys
    keys = spark.createDataFrame(
        sorted((f"key-{i}",) for i in all_ids), "k string"
    )
    one_shot = bytes(
        bloom_assemble(bloom_words(keys, "k", m=m, k=k)).collect()[0]["bloom"]
    )
    assembled = bytes(
        bloom_assemble(
            bloom_words_read(spark, bloom_path, protocol=protocol)
        ).collect()[0]["bloom"]
    )
    assert assembled == one_shot
