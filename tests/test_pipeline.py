"""Pipeline-semantics tests mirroring the reference's BDD suites
(SURVEY.md §5): pager behavior (fetcher_test), idempotent collection
(collector_test), ordered stop-on-failure shipping + at-least-once re-ship
(shipper_test), informer gauges (informer_test)."""

from __future__ import annotations

import datetime as dt
import functools
import json
import uuid

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from paas_auditor_spark.operators.cursor import EPOCH_TS
from paas_auditor_spark.operators.ingest import (
    REJECTED,
    idempotent_append,
    ingest_delta,
)
from paas_auditor_spark.sources.paginated_http import (
    EVENT_ROWS,
    build_events_url,
    decode_pages,
    decode_resource,
    fetch_event_pages,
)
from paas_auditor_spark.streaming.metrics import COUNTERS, GAUGES, MetricsRegistry
from paas_auditor_spark.stores import ParquetStore
from paas_auditor_spark.streaming.ship import send_with_retry, ship_tick

BASE = dt.datetime(2024, 3, 1, 12, 0, 0)


def make_event(i: int, ts: dt.datetime | None = None) -> dict:
    guid = str(uuid.UUID(int=i))
    created = (ts or (BASE + dt.timedelta(seconds=i))).strftime(
        "%Y-%m-%dT%H:%M:%SZ"
    )
    return {
        "metadata": {"guid": guid, "url": f"/v2/events/{guid}", "created_at": created},
        "entity": {
            "type": "audit.app.create",
            "actor": f"actor-{i}",
            "actor_type": "user",
            "actor_name": f"actor-name-{i}",
            "actor_username": f"user-{i}",
            "actee": f"actee-{i}",
            "actee_type": "app",
            "actee_name": f"actee-name-{i}",
            "timestamp": created,
            "organization_guid": "" if i % 3 == 0 else str(uuid.UUID(int=10_000 + i)),
            "space_guid": str(uuid.UUID(int=20_000 + i)),
            "metadata": {"request": f"r{i}"},
        },
    }


def make_pages(ids: list[list[int]]) -> list[dict]:
    pages = []
    for p, chunk in enumerate(ids):
        pages.append(
            {
                "total_results": sum(len(c) for c in ids),
                "total_pages": len(ids),
                "next_url": f"/v2/events?page={p + 2}" if p + 1 < len(ids) else None,
                "resources": [make_event(i) for i in chunk],
            }
        )
    return pages


class PageServer:
    """Canned-page transport mirroring the reference's httpmock builder."""

    def __init__(self, pages: list[dict]):
        self.pages = pages
        self.requests: list[str] = []

    def __call__(self, url: str) -> dict:
        self.requests.append(url)
        return self.pages[len(self.requests) - 1]


# --- pager (reference cf_audit_event_fetcher_test.go) ---------------------


def test_pager_follows_next_url_and_paces():
    server = PageServer(make_pages([[0, 1], [2, 3], [4]]))
    sleeps: list[float] = []
    pages = list(
        fetch_event_pages(
            server, "http://cc", BASE, page_size=100, wait_s=0.2,
            sleep=sleeps.append,
        )
    )
    assert len(pages) == 3
    assert server.requests[0] == (
        "http://cc/v2/events?q=timestamp>2024-03-01T12:00:00Z&results-per-page=100"
    )
    assert server.requests[1].endswith("page=2")
    # one pacing sleep per follow-up page (reference fetcher.go:55)
    assert sleeps == [0.2, 0.2]


def test_envelope_normalization(spark, tmp_path):
    """Decoded envelope rows through ``ingest_delta`` are stored as the
    decoder produced them, in the decoder's columns."""
    server = PageServer(make_pages([[0, 1, 2]]))
    pages = list(fetch_event_pages(server, "http://cc", BASE, wait_s=0))
    store = ParquetStore(spark, str(tmp_path / "wh"))
    assert ingest_delta(list(decode_pages(pages)), store) == 3
    df = spark.read.parquet(store.events_dir)
    rows = {r["guid"]: r for r in df.collect()}
    assert len(rows) == 3
    r0 = rows[str(uuid.UUID(int=0))]
    # Meta.guid/created_at flattened into the entity (fetcher.go:76-81)
    assert r0["created_at"] == BASE
    assert r0["event_type"] == "audit.app.create"
    assert r0["organization_guid"] is None  # '' -> NULL (P3)
    assert r0["space_guid"] == str(uuid.UUID(int=20_000))
    assert '"request": "r0"' in r0["metadata"] or '"request":"r0"' in r0["metadata"]
    # the stored rows are exactly the decoder's rows, in its columns
    (stored,) = store.files()
    assert spark.read.parquet(stored).schema == EVENT_ROWS
    assert tuple(decode_resource(make_event(0))) == (
        r0["guid"], BASE.replace(tzinfo=dt.timezone.utc), *tuple(r0)[2:]
    )


def test_decoder_keeps_nested_metadata_and_missing_fields():
    """Nested and numeric metadata stay JSON (not strings of JSON), and a
    resource missing entity fields decodes to NULLs for validation to
    judge instead of failing the batch."""
    import json

    event = make_event(1)
    event["entity"]["metadata"] = {"request": {"instances": 2}, "index": 3}
    del event["entity"]["actor"]
    row = decode_resource(event)
    assert json.loads(row[12]) == {"request": {"instances": 2}, "index": 3}
    assert row[3] is None
    assert all(f.nullable for f in EVENT_ROWS.fields)


@pytest.mark.parametrize(
    "metadata",
    [
        {"request": {"b": [1, {"z": None, "a": True}], "a": 2.5}, "index": 3},
        {"naïve": "中文 😀", "\u2028": "tab\there", "ctl": "\x1f"},
        {},
    ],
    ids=["nested", "non_ascii", "empty"],
)
def test_decoder_metadata_bytes_match_json_dumps(metadata):
    """The decoder's one shared encoder stores the bytes a per-row
    ``json.dumps(m, sort_keys=True, separators=(",", ":"))`` gives:
    sorted keys, compact, non-ASCII escaped."""
    event = make_event(1)
    event["entity"]["metadata"] = metadata
    assert decode_resource(event)[12] == json.dumps(
        metadata, sort_keys=True, separators=(",", ":")
    )


# --- collector (reference cf_audit_event_collector_test.go) ---------------


def _service(spark, tmp_path, transport=None):
    from paas_auditor_spark.config import EngineConfig
    from paas_auditor_spark.runner import Service

    cfg = EngineConfig()
    cfg.pagination_wait_s = 0.0
    return Service(
        spark, warehouse_dir=str(tmp_path / "wh"), transport=transport, cfg=cfg
    )


def test_service_collect_then_overlap_reingest(spark, tmp_path):
    server1 = PageServer(make_pages([[0, 1, 2], [3, 4]]))
    svc = _service(spark, tmp_path, server1)
    assert svc.collector_tick() == 5
    # empty table → epoch backfill (T2)
    assert "q=timestamp>1970-01-01T00:00:00Z&" in server1.requests[0]

    # second tick re-fetches an overlapping window (events 3,4 again + 5,6)
    server2 = PageServer(make_pages([[3, 4, 5, 6]]))
    svc.transport = server2
    assert svc.collector_tick() == 2  # only the genuinely new events land
    events = spark.read.parquet(svc.store.events_dir)
    assert events.count() == 7
    assert events.select("guid").distinct().count() == 7
    # source-side pushdown (S2) of watermark = max - 5s (collector.go:36)
    watermark = BASE + dt.timedelta(seconds=4) - dt.timedelta(seconds=5)
    assert f"timestamp>{watermark:%Y-%m-%dT%H:%M:%SZ}&" in server2.requests[0]
    assert svc.metrics.get("cf_audit_event_collector_events_collected_total") == 7


def test_validate_events_quarantines_epoch(spark, tmp_path):
    """An event at the epoch fails the P8 CHECK in ``ingest_delta``: it is
    counted as rejected and never stored, on a re-read either."""
    good = make_event(1)
    bad = make_event(2)
    bad["metadata"]["created_at"] = "1970-01-01T00:00:00Z"
    rows = list(
        decode_pages(
            [{"total_results": 2, "total_pages": 1, "next_url": None,
              "resources": [good, bad]}]
        )
    )
    store = ParquetStore(spark, str(tmp_path / "wh"))
    metrics = MetricsRegistry()
    assert ingest_delta(rows, store, metrics) == 1
    assert metrics.get(REJECTED) == 1
    assert ingest_delta(rows, store, metrics) == 0
    assert metrics.get(REJECTED) == 2
    assert [r["guid"] for r in spark.read.parquet(store.events_dir).collect()] == [
        str(uuid.UUID(int=1))
    ]


def test_service_watermark_empty_is_epoch(spark, tmp_path):
    assert _service(spark, tmp_path)._watermark() == EPOCH_TS


# --- shipper (reference cf_audit_events_to_splunk_shipper_test.go) --------


def _events(n=3) -> list[tuple]:
    """Events 0..n-1 as decoded ``EVENT_ROWS`` tuples (aware UTC
    ``created_at``)."""
    return list(decode_pages(make_pages([list(range(n))])))


def _events_df(spark, n=3):
    """``_events(n)`` as a frame; the aware ``created_at`` converts
    without the process timezone."""
    return spark.createDataFrame(_events(n), EVENT_ROWS)


def _jvm_envelopes(df, deploy_env: str) -> list[str]:
    """The HEC payloads of ``df``'s rows from the JVM projection
    (``event_json`` + ``splunk_envelope``), in ``df``'s order."""
    from pyspark.sql import functions as F

    from paas_auditor_spark.functions.json_utils import event_json, splunk_envelope

    evt = event_json(
        *(F.col(c) for c in EVENT_ROWS.names[:10]),
        organization_guid=F.col("organization_guid"),
        space_guid=F.col("space_guid"),
        metadata=F.col("metadata"),
    )
    return [
        r["p"]
        for r in df.select(splunk_envelope(evt, deploy_env).alias("p")).collect()
    ]


SHIPPER = "cf-audit-events-to-splunk"
ERRORS = "cf_audit_events_to_splunk_shipper_errors_total"


def _stored(spark, tmp_path, rows) -> ParquetStore:
    store = ParquetStore(spark, str(tmp_path / "wh"))
    store.append_events(rows)
    return store


def no_sleep(seconds: float) -> None:
    pass


def _envelopes(bodies: list[str]) -> list[str]:
    """The HEC envelopes in NDJSON bodies, in send order."""
    return [line for body in bodies for line in body.split("\n")]


def test_ship_happy_path(spark, tmp_path):
    metrics = MetricsRegistry()
    sent: list[str] = []
    store = _stored(spark, tmp_path, _events())
    shipped = ship_tick(
        store, sent.append, SHIPPER, "test", 8192,
        sleep=no_sleep, metrics=metrics,
    )
    assert shipped == 3
    assert metrics.get(ERRORS) == 0
    assert len(sent) == 1  # three events, one NDJSON body
    env = _envelopes(sent)
    # chronological ship order (O4) with the HEC envelope shape (P13)
    assert '"sourcetype":"cf-audit-event"' in env[0]
    assert env[0] < env[1] < env[2]  # guids UUID(int=i) sort with time here
    # full-fidelity payload: all 13 event fields in json.Marshal order
    # (shipper.go:24-28,187-192 ships the whole cfclient.Event)
    import json as _json

    p0 = _json.loads(env[0])
    assert p0["source"] == "test"
    ev = p0["event"]
    assert list(ev.keys()) == [
        "guid", "type", "created_at", "actor", "actor_type", "actor_name",
        "actor_username", "actee", "actee_type", "actee_name",
        "organization_guid", "space_guid", "metadata",
    ]
    assert ev["guid"] == str(uuid.UUID(int=0))
    assert ev["type"] == "audit.app.create"
    assert ev["created_at"] == BASE.strftime("%Y-%m-%dT%H:%M:%SZ")
    assert ev["actor"] == "actor-0"
    assert ev["actor_username"] == "user-0"
    assert ev["actee_name"] == "actee-name-0"
    assert ev["organization_guid"] == ""  # NULL → '' on read (store.go:219)
    assert ev["space_guid"] == str(uuid.UUID(int=20_000))
    assert ev["metadata"] == {"request": "r0"}  # raw JSONB passthrough
    ts, sid = store.effective_cursor(SHIPPER)
    assert ts == BASE + dt.timedelta(seconds=2)
    assert sid == str(uuid.UUID(int=2))
    assert metrics.get(
        "cf_audit_events_to_splunk_shipper_events_shipped_total") == 3


def test_ship_stop_on_failure_then_reship(spark, tmp_path):
    """250 events ship as batches 0-99, 100-199, 200-249; batch 2 fails
    after its retries, so the tick stops there (W4) with the cursor at
    the last event of batch 1, and the next tick re-ships from event 100."""
    store = _stored(spark, tmp_path, _events(250))
    metrics = MetricsRegistry()
    calls: list[str] = []

    def flaky(payload: str) -> None:
        calls.append(payload)
        if str(uuid.UUID(int=100)) in payload:
            raise RuntimeError("splunk 500")

    shipped = ship_tick(
        store, flaky, SHIPPER, "test", 8192, sleep=no_sleep, metrics=metrics
    )
    # batch 1 shipped, batch 2 failed after retries, batch 3 never tried
    assert shipped == 100 and metrics.get(ERRORS) == 1
    # 1 success + (1 initial + 3 retries) for the failure
    assert len(calls) == 5
    assert not any(str(uuid.UUID(int=200)) in c for c in calls)
    ts, sid = store.effective_cursor(SHIPPER)
    # cursor at the last event of the last acknowledged batch
    assert (ts, sid) == (BASE + dt.timedelta(seconds=99), str(uuid.UUID(int=99)))

    # next tick: events ≥ cursor-ts excluding exactly shipped_id re-ship
    # (P7 boundary semantics, at-least-once T4)
    sent2: list[str] = []
    shipped2 = ship_tick(
        store, sent2.append, SHIPPER, "test", 8192,
        sleep=no_sleep, metrics=metrics,
    )
    assert shipped2 == 150 and metrics.get(ERRORS) == 1
    assert len(sent2) == 2
    import json as _json

    guids = [_json.loads(e)["event"]["guid"] for e in _envelopes(sent2)]
    assert guids == [str(uuid.UUID(int=i)) for i in range(100, 250)]


def test_ship_batch_bounds(spark, tmp_path):
    """Batches end at HEC_BATCH_EVENTS events or before HEC_BATCH_BYTES of
    body; order holds across bodies and every envelope is the JVM
    ``event_json`` + ``splunk_envelope`` payload, byte for byte."""
    import json as _json

    from paas_auditor_spark.streaming.ship import (
        HEC_BATCH_BYTES,
        HEC_BATCH_EVENTS,
        hec_batches,
    )

    assert HEC_BATCH_EVENTS == 100
    events = _events_df(spark, 250)
    store = _stored(spark, tmp_path, _events(250))
    metrics = MetricsRegistry()
    sent: list[str] = []
    shipped = ship_tick(
        store, sent.append, SHIPPER, "test", 8192,
        sleep=no_sleep, metrics=metrics,
    )
    assert shipped == 250
    assert metrics.get(ERRORS) == 0
    assert [len(b.split("\n")) for b in sent] == [100, 100, 50]
    want = _jvm_envelopes(events.orderBy("created_at", "guid"), "test")
    assert _envelopes(sent) == want
    assert [_json.loads(e)["event"]["guid"] for e in _envelopes(sent)] == [
        str(uuid.UUID(int=i)) for i in range(250)
    ]

    def row(i: int, pad: int) -> dict:
        return {
            "guid": f"g{i}",
            "payload": _json.dumps({"event": {"guid": f"g{i}", "pad": "x" * pad}}),
        }

    def ship(rows) -> list[str]:
        batches = list(hec_batches(rows, lambda r: r["payload"]))
        assert sum(map(len, batches)) == len(rows)
        assert batches[-1][-1] is rows[-1]
        bodies = ["\n".join(r["payload"] for r in b) for b in batches]
        assert _envelopes(bodies) == [r["payload"] for r in rows]
        return bodies

    # a run of large events splits on the byte bound: two ~200 KiB
    # envelopes fit in one body, a third would not
    big = [row(i, 200 * 1024) for i in range(5)]
    bodies = ship(big)
    assert [len(b.split("\n")) for b in bodies] == [2, 2, 1]
    assert all(len(b.encode()) <= HEC_BATCH_BYTES for b in bodies)
    # one event above the bound ships alone, between its neighbours' bodies
    huge = row(2, HEC_BATCH_BYTES)
    assert len(huge["payload"]) > HEC_BATCH_BYTES
    bodies = ship([row(0, 10), row(1, 10), huge, row(3, 10)])
    assert [len(b.split("\n")) for b in bodies] == [2, 1, 1]
    assert bodies[1] == huge["payload"]


def test_retry_backoff_recovers():
    attempts = []

    def flaky_twice(payload: str) -> None:
        attempts.append(payload)
        if len(attempts) <= 2:
            raise RuntimeError("transient")

    slept: list[float] = []
    send_with_retry(flaky_twice, "x", sleep=slept.append)
    assert len(attempts) == 3
    assert len(slept) == 2
    # exponential envelope: 0.1(+jitter≤0.5), then 0.2(+jitter)
    assert 0.1 <= slept[0] <= 0.6 and 0.2 <= slept[1] <= 0.7

    # a sender that never recovers: 1 attempt + 3 retries, then it raises
    attempts.clear()
    slept.clear()

    def down(payload: str) -> None:
        attempts.append(payload)
        raise RuntimeError("down")

    with pytest.raises(RuntimeError, match="down"):
        send_with_retry(down, "x", sleep=slept.append)
    assert len(attempts) == 4
    assert 0.4 <= slept[2] <= 0.9


def test_cursor_upsert_and_monotonic(spark, tmp_path):
    import json as _json

    store = ParquetStore(spark, str(tmp_path / "wh"))
    assert store.effective_cursor("s") == (EPOCH_TS, "")
    store.upsert_cursor("s", BASE, "g1")
    assert store.effective_cursor("s") == (BASE, "g1")
    # second upsert replaces, not duplicates (name is PK — W2)
    store.upsert_cursor("s", BASE + dt.timedelta(seconds=5), "g2")
    with open(store.cursor_path) as fh:
        assert list(_json.load(fh)) == ["s"]
    assert store.effective_cursor("s") == (BASE + dt.timedelta(seconds=5), "g2")


# --- informer (reference informer_test.go) --------------------------------


def test_informer_gauges(spark, tmp_path):
    from paas_auditor_spark.runner import Service

    svc = Service(spark, store=_stored(spark, tmp_path, _events(4)))
    svc.informer_tick()
    metrics = svc.metrics
    assert metrics.get("informer_cf_audit_events_total") == 4.0
    assert metrics.get("informer_latest_cf_audit_event_timestamp") == (
        BASE + dt.timedelta(seconds=3)
    ).replace(tzinfo=dt.timezone.utc).timestamp()


def test_metric_registry_names():
    m = MetricsRegistry()
    assert len(COUNTERS) + len(GAUGES) == 9  # reference README.md:45-58
    # the 9 reference names are pre-registered; unknown names register
    # lazily (prometheus-client semantics) instead of raising — a custom
    # shipper name must not crash the tick between delivery and cursor
    # commit, which would re-ship the batch forever
    assert set(m.values) == set(COUNTERS + GAUGES)
    m.inc("custom_sink_shipper_events_shipped_total", 3.0)
    assert m.get("custom_sink_shipper_events_shipped_total") == 3.0


# --- idempotent append window bound (scale hard-part 1) -------------------


def test_idempotent_append_respects_window_floor(spark):
    events = _events_df(spark, 5)
    batch = _events_df(spark, 3)  # all duplicates of the target
    floored = idempotent_append(
        events, batch, window_floor=BASE + dt.timedelta(seconds=10)
    )
    # window floor above all rows → anti-join side empty → dupes slip in;
    # proves the floor actually bounds the comparison set
    assert floored.count() == 8
    correct = idempotent_append(events, batch, window_floor=EPOCH_TS)
    assert correct.count() == 5


def test_stratified_sample_fractions(spark, sf_dir):
    """Content-addressed stratified sampling honors per-stratum fractions
    (within Bernoulli tolerance) and is reproducible run-to-run — the
    md5-threshold keep decision depends only on row content."""
    from paas_auditor_spark.queries import q_stratified_sample
    from paas_auditor_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    totals = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type").agg(
            __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")
        ).collect()
    }
    got1 = {r["event_type"]: r["n_sampled"]
            for r in q_stratified_sample(spark, sf_dir).collect()}
    got2 = {r["event_type"]: r["n_sampled"]
            for r in q_stratified_sample(spark, sf_dir).collect()}
    assert got1 == got2  # content-addressed → reproducible
    assert got1["error"] == totals["error"]  # fraction 1.0 keeps everything
    assert got1["purchase"] == totals["purchase"]
    # UNLISTED strata are fully dropped (sampleBy's missing-key
    # semantics — r8 review finding: they were silently kept at 1.0)
    assert set(got1) <= {"click", "view", "error", "purchase"}
    # Bernoulli tolerance: observed rate within ±35% relative of target
    for etype, frac in [("click", 0.5), ("view", 0.1)]:
        rate = got1[etype] / totals[etype]
        assert 0.65 * frac < rate < 1.35 * frac, (etype, rate)


def test_approx_percentiles_accuracy_envelope(spark, sf_dir):
    """percentile_approx must land within rank tolerance: between the
    exact (q-2%) and (q+2%) percentiles.  (Value tolerance is the wrong
    contract — the sketch returns a real element while exact percentile
    interpolates, so sparse tails diverge in value even at full accuracy.)"""
    from pyspark.sql import functions as F

    from paas_auditor_spark.queries import q_approx_percentiles
    from paas_auditor_spark.sources.tables import load_table

    approx = {
        r["event_type"]: (r["p50"], r["p95"], r["p99"])
        for r in q_approx_percentiles(spark, sf_dir).collect()
    }
    qs = [0.5, 0.95, 0.99]
    lo_hi = F.expr(
        "percentile(value, array(0.48, 0.93, 0.97, 0.52, 0.97, 1.0))"
    )
    bounds = {
        r["event_type"]: r["b"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(lo_hi.alias("b"))
        .collect()
    }
    for etype, vals in approx.items():
        b = bounds[etype]
        for i, a in enumerate(vals):
            lo, hi = b[i], b[i + 3]
            assert lo - 0.01 <= a <= hi + 0.01, (etype, qs[i], a, lo, hi)


def test_event_json_emits_empty_string_for_null_fields(spark):
    """to_json drops null struct keys by default — event_json must emit
    "" instead (Go string struct fields are never nil), keeping the
    13-field json.Marshal layout stable for every row."""
    import json as _json

    from pyspark.sql import functions as F

    from paas_auditor_spark.functions.json_utils import event_json

    df = spark.createDataFrame(
        [("g1", dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc), "audit.x", None)],
        "guid string, created_at timestamp, event_type string,"
        " actor_name string",
    )
    payload = df.select(
        event_json(
            guid=F.col("guid"),
            event_type=F.col("event_type"),
            created_at=F.col("created_at"),
            actor=F.lit("a"),
            actor_type=F.lit("t"),
            actor_name=F.col("actor_name"),  # NULL
            actor_username=F.lit("u"),
            actee=F.lit("e"),
            actee_type=F.lit("et"),
            actee_name=F.lit("en"),
            organization_guid=F.lit(None).cast("string"),
            space_guid=F.lit("sp"),
            metadata=F.lit(None).cast("string"),
        ).alias("j")
    ).first()["j"]
    from paas_auditor_spark.streaming.ship import hec_envelope

    row = ("g1", dt.datetime(2024, 3, 1), "audit.x", "a", "t", None, "u",
           "e", "et", "en", None, "sp", None)
    python = _json.loads(hec_envelope(row, "test"))["event"]
    for ev in (_json.loads(payload), python):
        assert ev["actor_name"] == ""  # present, not dropped
        assert ev["organization_guid"] == ""
        assert ev["metadata"] is None
        assert list(ev.keys()) == [
            "guid", "type", "created_at", "actor", "actor_type", "actor_name",
            "actor_username", "actee", "actee_type", "actee_name",
            "organization_guid", "space_guid", "metadata",
        ]
    assert python == _json.loads(payload)


# text that JSON escaping must handle: quotes, backslashes, every C0
# control, DEL, non-ASCII, astral characters and the JS line separators
_TRICKY = st.text(
    st.sampled_from(
        ['"', "\\", "/", "\x7f", "\u2028", "\u2029", "é", "中", "😀", "𝄞"]
        + [chr(i) for i in range(32)]
    )
    | st.characters(exclude_categories=("Cs",)),
    max_size=12,
)
_ROW = st.tuples(
    st.none() | _TRICKY,  # guid
    st.none() | st.datetimes(
        min_value=dt.datetime(1970, 1, 2), max_value=dt.datetime(9999, 12, 30)
    ),
    *([st.none() | _TRICKY] * 10),  # event_type … space_guid
    st.none() | st.dictionaries(
        _TRICKY,
        st.none() | st.booleans() | st.integers() | _TRICKY
        | st.lists(_TRICKY, max_size=3),
        max_size=3,
    ).map(functools.partial(json.dumps, ensure_ascii=False)),
)
_SHORT_ESCAPES = "\b\f\n\r\t"


@settings(
    max_examples=30, deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(rows=st.lists(_ROW, min_size=1, max_size=8))
def test_python_envelope_parses_like_the_jvm_envelope(spark, rows):
    """For any text, ``hec_envelope`` and the JVM ``event_json`` +
    ``splunk_envelope`` projection parse to the same JSON.  They are
    byte-identical unless a field holds a C0 control other than
    ``\\b \\f \\n \\r \\t``, which Python escapes with lowercase
    hex and Jackson with uppercase."""
    from paas_auditor_spark.streaming.ship import hec_envelope

    aware = [
        (r[0], r[1] and r[1].replace(tzinfo=dt.timezone.utc), *r[2:])
        for r in rows
    ]
    jvm = _jvm_envelopes(spark.createDataFrame(aware, EVENT_ROWS), "test")
    for row, want in zip(rows, jvm):
        got = hec_envelope(row, "test")
        assert json.loads(got) == json.loads(want)
        texts = "".join(v for v in row[:12] if isinstance(v, str))
        if not any(c < " " and c not in _SHORT_ESCAPES for c in texts):
            assert got == want


def _oracle_envelope(row: tuple, deploy_env: str) -> str:
    """The dict + ``json.dumps`` envelope builder that ``hec_envelope``'s
    template replaced, kept as its byte-level oracle."""
    (guid, created_at, event_type, actor, actor_type, actor_name,
     actor_username, actee, actee_type, actee_name, organization_guid,
     space_guid, metadata) = row
    fields = {
        "guid": guid,
        "type": event_type,
        "created_at": created_at and created_at.strftime("%Y-%m-%dT%H:%M:%SZ"),
        "actor": actor,
        "actor_type": actor_type,
        "actor_name": actor_name,
        "actor_username": actor_username,
        "actee": actee,
        "actee_type": actee_type,
        "actee_name": actee_name,
        "organization_guid": organization_guid,
        "space_guid": space_guid,
    }
    scalars = json.dumps(
        {k: "" if v is None else v for k, v in fields.items()},
        ensure_ascii=False,
        separators=(",", ":"),
    )
    return (
        '{"sourcetype":"cf-audit-event","source":'
        + json.dumps(deploy_env, ensure_ascii=False)
        + ',"event":' + scalars[:-1]
        + ',"metadata":' + ("null" if metadata is None else metadata)
        + "}}"
    )


@settings(max_examples=300, deadline=None)
@given(rows=st.lists(_ROW, min_size=1, max_size=8), deploy_env=_TRICKY)
def test_envelope_template_is_byte_identical_to_json_dumps(rows, deploy_env):
    """``hec_envelope``'s one-template build gives the bytes of the dict
    + ``json.dumps`` build for any text, C0 controls included, and for
    NULL fields and metadata."""
    from paas_auditor_spark.streaming.ship import hec_envelope

    for row in rows:
        for env in (deploy_env, "prod-ü-中-😀\u2028"):
            assert hec_envelope(row, env) == _oracle_envelope(row, env)


@pytest.mark.parametrize(
    "created_at",
    [dt.datetime(1, 1, 1), dt.datetime(999, 12, 31, 23, 59, 59, 999999),
     dt.datetime(1000, 1, 2, 3, 4, 5), dt.datetime(9999, 12, 31, 23, 59, 59),
     dt.datetime(2024, 2, 29, 9, 8, 7, 6, tzinfo=dt.timezone.utc)],
    ids=["year1", "year999", "year1000", "year9999", "aware"],
)
def test_envelope_created_at_matches_strftime_at_the_year_edges(created_at):
    """The envelope's ``created_at`` is ``strftime``'s at every year,
    unpadded below 1000 as glibc writes ``%Y``, and ignores a zone as
    ``strftime`` does."""
    from paas_auditor_spark.streaming.ship import hec_envelope

    row = ("g", created_at, *["x"] * 10, None)
    assert hec_envelope(row, "prod") == _oracle_envelope(row, "prod")


def test_orc_and_json_round_trip_preserve_events(spark, sf_dir, tmp_path):
    """Bronze exports are format-agnostic: ORC and JSON round-trips
    preserve row count and content checksum (order-independent md5
    fold), including microsecond timestamps — the interchange guarantee
    for downstream consumers that don't read parquet."""
    from pyspark.sql import functions as F

    from paas_auditor_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events").limit(2000)

    def checksum(df):
        row_hash = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("event_id").cast("string"),
                        "event_type",
                        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        return df.agg(
            F.sum(row_hash).alias("c"), F.count(F.lit(1)).alias("n")
        ).first()

    want = checksum(events)
    orc_path = str(tmp_path / "orc")
    json_path = str(tmp_path / "json")
    # JSON's default NTZ format truncates to milliseconds — pin a 6-digit
    # fractional format on BOTH sides or sub-ms event times silently shift
    ntz_fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
    events.write.mode("overwrite").orc(orc_path)
    events.write.mode("overwrite").option(
        "timestampNTZFormat", ntz_fmt
    ).json(json_path)
    got_orc = checksum(spark.read.orc(orc_path))
    # JSON is schemaless on read: re-apply the writer's schema so ts
    # comes back as a timestamp, the production contract for JSON lakes
    got_json = checksum(
        spark.read.schema(events.schema)
        .option("timestampNTZFormat", ntz_fmt)
        .json(json_path)
    )
    assert (got_orc["c"], got_orc["n"]) == (want["c"], want["n"])
    assert (got_json["c"], got_json["n"]) == (want["c"], want["n"])


def test_null_guid_rows_quarantined_and_never_reappended(spark, tmp_path):
    """A null-guid event fails validation (reference: guid NOT NULL PK),
    so ``ingest_delta`` never stores it — not on the first pass, and not
    on a re-read, where a NULL key could never match the anti-join
    (NULL never equals NULL)."""
    null_guid = make_event(2)
    null_guid["metadata"]["guid"] = None
    batch = list(
        decode_pages(
            [{"total_results": 2, "total_pages": 1, "next_url": None,
              "resources": [make_event(1), null_guid]}]
        )
    )
    store = ParquetStore(spark, str(tmp_path / "wh"))
    metrics = MetricsRegistry()
    assert ingest_delta(batch, store, metrics) == 1
    assert metrics.get(REJECTED) == 1
    assert ingest_delta(batch, store, metrics) == 0
    assert metrics.get(REJECTED) == 2
    # the null-guid row lands zero times; event 1 exactly once
    assert spark.read.parquet(store.events_dir).count() == 1
