"""Pipeline-semantics tests mirroring the reference's BDD suites
(SURVEY.md §5): pager behavior (fetcher_test), idempotent collection
(collector_test), ordered stop-on-failure shipping + at-least-once re-ship
(shipper_test), informer gauges (informer_test)."""

from __future__ import annotations

import datetime as dt
import uuid

import pytest

from paas_auditor_spark.operators.cursor import (
    EPOCH_TS,
    effective_cursor,
    empty_cursors,
    upsert_cursor,
    validate_cursor_monotonic,
)
from paas_auditor_spark.operators.ingest import (
    idempotent_append,
    ingest_watermark,
    normalize_envelope,
    validate_events,
)
from paas_auditor_spark.schemas import CF_AUDIT_EVENT
from paas_auditor_spark.sources.paginated_http import (
    build_events_url,
    fetch_event_pages,
    pages_to_dataframe,
)
from paas_auditor_spark.streaming.metrics import COUNTERS, GAUGES, MetricsRegistry
from paas_auditor_spark.streaming.pipeline import collect_once, informer_tick
from paas_auditor_spark.streaming.ship import RetryPolicy, ship_unshipped

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


def test_envelope_normalization(spark):
    server = PageServer(make_pages([[0, 1, 2]]))
    pages = list(fetch_event_pages(server, "http://cc", BASE, wait_s=0))
    df = pages_to_dataframe(spark, pages)
    rows = {r["guid"]: r for r in df.collect()}
    assert len(rows) == 3
    r0 = rows[str(uuid.UUID(int=0))]
    # Meta.guid/created_at flattened into the entity (fetcher.go:76-81)
    assert r0["created_at"] == BASE
    assert r0["event_type"] == "audit.app.create"
    assert r0["organization_guid"] is None  # '' -> NULL (P3)
    assert r0["space_guid"] == str(uuid.UUID(int=20_000))
    assert '"request": "r0"' in r0["metadata"] or '"request":"r0"' in r0["metadata"]


# --- collector (reference cf_audit_event_collector_test.go) ---------------


def _empty_target(spark):
    return spark.createDataFrame([], schema=CF_AUDIT_EVENT)


def test_collect_once_then_overlap_reingest(spark):
    metrics = MetricsRegistry()
    server1 = PageServer(make_pages([[0, 1, 2], [3, 4]]))
    res1 = collect_once(
        spark, _empty_target(spark), server1, metrics=metrics
    )
    assert res1.collected == 5
    assert res1.watermark == EPOCH_TS  # empty table → epoch backfill (T2)

    # second tick re-fetches an overlapping window (events 3,4 again + 5,6)
    server2 = PageServer(make_pages([[3, 4, 5, 6]]))
    res2 = collect_once(spark, res1.target_df, server2, metrics=metrics)
    assert res2.collected == 2  # only the genuinely new events land (T3/W1)
    assert res2.target_df.count() == 7
    assert res2.target_df.select("guid").distinct().count() == 7
    # watermark = max - 5s (collector.go:36)
    assert res2.watermark == BASE + dt.timedelta(seconds=4) - dt.timedelta(seconds=5)
    assert metrics.get("cf_audit_event_collector_events_collected_total") == 7
    # source-side pushdown uses the watermark (S2)
    assert "timestamp>" in server2.requests[0]


def test_validate_events_quarantines_epoch(spark):
    good = make_event(1)
    bad = make_event(2)
    bad["metadata"]["created_at"] = "1970-01-01T00:00:00Z"
    df = pages_to_dataframe(
        spark,
        [{"total_results": 2, "total_pages": 1, "next_url": None,
          "resources": [good, bad]}],
    )
    valid, quarantined = validate_events(df)
    assert valid.count() == 1
    assert quarantined.count() == 1


def test_ingest_watermark_empty_is_epoch(spark):
    assert ingest_watermark(_empty_target(spark)) == EPOCH_TS


# --- shipper (reference cf_audit_events_to_splunk_shipper_test.go) --------


def _events_df(spark, n=3):
    pages = make_pages([list(range(n))])
    return pages_to_dataframe(spark, pages)


NO_SLEEP = RetryPolicy(sleep=lambda s: None, max_retries=3)


def _envelopes(bodies: list[str]) -> list[str]:
    """The HEC envelopes in NDJSON bodies, in send order."""
    return [line for body in bodies for line in body.split("\n")]


def test_ship_happy_path(spark):
    metrics = MetricsRegistry()
    sent: list[str] = []
    res = ship_unshipped(
        _events_df(spark), empty_cursors(spark), "cf-audit-events-to-splunk",
        sent.append, retry=NO_SLEEP, metrics=metrics,
    )
    assert res.shipped == 3 and not res.failed
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
    ts, sid = effective_cursor(res.cursors_df, "cf-audit-events-to-splunk")
    assert ts == BASE + dt.timedelta(seconds=2)
    assert sid == str(uuid.UUID(int=2))
    assert metrics.get(
        "cf_audit_events_to_splunk_shipper_events_shipped_total") == 3


def test_ship_stop_on_failure_then_reship(spark):
    """250 events ship as batches 0-99, 100-199, 200-249; batch 2 fails
    after its retries, so the tick stops there (W4) with the cursor at
    the last event of batch 1, and the next tick re-ships from event 100."""
    events = _events_df(spark, 250)
    calls: list[str] = []

    def flaky(payload: str) -> None:
        calls.append(payload)
        if str(uuid.UUID(int=100)) in payload:
            raise RuntimeError("splunk 500")

    res = ship_unshipped(
        events, empty_cursors(spark), "cf-audit-events-to-splunk",
        flaky, retry=NO_SLEEP,
    )
    # batch 1 shipped, batch 2 failed after retries, batch 3 never tried
    assert res.shipped == 100 and res.failed
    # 1 success + (1 initial + 3 retries) for the failure
    assert len(calls) == 5
    assert not any(str(uuid.UUID(int=200)) in c for c in calls)
    ts, sid = effective_cursor(res.cursors_df, "cf-audit-events-to-splunk")
    # cursor at the last event of the last acknowledged batch
    assert (ts, sid) == (BASE + dt.timedelta(seconds=99), str(uuid.UUID(int=99)))

    # next tick: events ≥ cursor-ts excluding exactly shipped_id re-ship
    # (P7 boundary semantics, at-least-once T4)
    sent2: list[str] = []
    res2 = ship_unshipped(
        events, res.cursors_df, "cf-audit-events-to-splunk",
        sent2.append, retry=NO_SLEEP,
    )
    assert res2.shipped == 150 and not res2.failed
    assert len(sent2) == 2
    import json as _json

    guids = [_json.loads(e)["event"]["guid"] for e in _envelopes(sent2)]
    assert guids == [str(uuid.UUID(int=i)) for i in range(100, 250)]


def test_ship_batch_bounds(spark):
    """Batches end at HEC_BATCH_EVENTS events or before HEC_BATCH_BYTES of
    body; order holds across bodies and every envelope is the
    ``build_payloads`` payload, byte for byte."""
    import json as _json

    from paas_auditor_spark.sinks.hec import HEC_BATCH_BYTES, HEC_BATCH_EVENTS
    from paas_auditor_spark.streaming.ship import build_payloads, ship_rows

    assert HEC_BATCH_EVENTS == 100
    events = _events_df(spark, 250)
    sent: list[str] = []
    res = ship_unshipped(
        events, empty_cursors(spark), "cf-audit-events-to-splunk",
        sent.append, retry=NO_SLEEP,
    )
    assert res.shipped == 250 and not res.failed
    assert [len(b.split("\n")) for b in sent] == [100, 100, 50]
    want = [
        r["payload"]
        for r in build_payloads(events.orderBy("created_at", "guid"), "test")
        .collect()
    ]
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
        bodies: list[str] = []
        shipped, last_ok, failed = ship_rows(
            rows, bodies.append, "s", retry=NO_SLEEP
        )
        assert shipped == len(rows) and not failed
        assert last_ok is rows[-1]
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
    policy = RetryPolicy(sleep=slept.append, max_retries=3)
    policy.send_with_retry(flaky_twice, "x")
    assert len(attempts) == 3
    assert len(slept) == 2
    # exponential envelope: 0.1(+jitter≤0.5), then 0.2(+jitter)
    assert 0.1 <= slept[0] <= 0.6 and 0.2 <= slept[1] <= 0.7


def test_cursor_upsert_and_monotonic(spark):
    c0 = empty_cursors(spark)
    before = effective_cursor(c0, "s")
    c1 = upsert_cursor(c0, "s", BASE, "g1")
    after = effective_cursor(c1, "s")
    assert after == (BASE, "g1")
    assert validate_cursor_monotonic(before, after)
    # second upsert replaces, not duplicates (name is PK — W2)
    c2 = upsert_cursor(c1, "s", BASE + dt.timedelta(seconds=5), "g2")
    assert c2.filter("name = 's'").count() == 1
    assert effective_cursor(c2, "s") == (BASE + dt.timedelta(seconds=5), "g2")


# --- informer (reference informer_test.go) --------------------------------


def test_informer_gauges(spark):
    metrics = MetricsRegistry()
    informer_tick(_events_df(spark, 4), metrics)
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


def test_compact_partition_preserves_rows_and_reduces_files(spark, tmp_path):
    """Small-file compaction: many per-batch appends collapse to one file
    per closed partition, with row-for-row identical content."""
    import datetime as dt
    import glob
    import os

    from pyspark.sql import functions as F

    from paas_auditor_spark.sources.partitioned import (
        compact_partition,
        list_partitions,
        write_partitioned,
    )

    bronze = str(tmp_path / "bronze")
    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    # 5 micro-batch appends into the same date partition
    for batch in range(5):
        df = spark.createDataFrame(
            [(batch * 10 + i, base + dt.timedelta(seconds=batch * 10 + i))
             for i in range(10)],
            "guid long, created_at timestamp",
        ).coalesce(2)
        write_partitioned(df, bronze)

    assert list_partitions(bronze) == ["2024-03-01"]
    part_dir = os.path.join(bronze, "event_date=2024-03-01")
    files_before = glob.glob(os.path.join(part_dir, "*.parquet"))
    assert len(files_before) >= 5

    n = compact_partition(spark, bronze, "2024-03-01", target_files=1)
    assert n == 50
    files_after = glob.glob(os.path.join(part_dir, "*.parquet"))
    assert len(files_after) == 1
    out = spark.read.parquet(part_dir)
    assert out.count() == 50
    assert out.agg(F.sum("guid")).first()[0] == sum(range(50))
    assert list_partitions(bronze) == ["2024-03-01"]  # no temp dirs leak


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


def test_export_ordered_total_order_across_files(spark, sf_dir, tmp_path):
    """Range-partitioned sorted export: every part-file internally sorted,
    file key-ranges disjoint and increasing — i.e. a total order readable
    in parallel."""
    import glob

    from paas_auditor_spark.sources.partitioned import export_ordered
    from paas_auditor_spark.sources.tables import load_table

    out = str(tmp_path / "ordered")
    events = load_table(spark, sf_dir, "events").select("event_id", "ts")
    export_ordered(events, out, "event_id", num_partitions=4)

    files = sorted(glob.glob(f"{out}/part-*.parquet"))
    assert len(files) >= 2
    ranges = []
    total = 0
    for f in files:
        vals = [r["event_id"] for r in spark.read.parquet(f).collect()]
        if not vals:
            continue
        assert vals == sorted(vals), f  # internal order
        ranges.append((vals[0], vals[-1]))
        total += len(vals)
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2  # disjoint, increasing across files
    assert total == events.count()


# --- JSONL dump/replay source (S4 over files) -----------------------------


def test_jsonl_replay_equals_live_fetch(spark, tmp_path):
    """A dumped page file replayed through read_envelope_jsonl decodes to
    exactly the rows the live fetch path produces."""
    import json

    from paas_auditor_spark.sources.jsonl import read_envelope_jsonl

    pages = make_pages([[0, 1], [2]])
    dump = tmp_path / "dump.jsonl"
    dump.write_text("\n".join(json.dumps(p) for p in pages) + "\n")

    live = pages_to_dataframe(spark, pages)
    replay = read_envelope_jsonl(spark, str(dump))
    live_rows = sorted(map(tuple, live.collect()))
    replay_rows = sorted(map(tuple, replay.collect()))
    assert replay_rows == live_rows and len(replay_rows) == 3


def test_jsonl_streaming_replay_paced(spark, tmp_path):
    """Streaming replay: two dump files, one file per trigger, all rows
    land exactly once through the bronze choreography."""
    import json

    from paas_auditor_spark.sources.jsonl import stream_envelope_jsonl

    src = tmp_path / "dumps"
    src.mkdir()
    (src / "a.jsonl").write_text(json.dumps(make_pages([[0, 1]])[0]) + "\n")
    (src / "b.jsonl").write_text(json.dumps(make_pages([[2, 3]])[0]) + "\n")

    events = stream_envelope_jsonl(spark, str(src), max_files_per_trigger=1)
    q = (
        events.writeStream.format("memory")
        .queryName("jsonl_replay")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # one file per micro-batch: at least 2 batches committed
        assert len(q.recentProgress) >= 2
    finally:
        q.stop()
    out = spark.sql("SELECT guid FROM jsonl_replay")
    assert out.count() == 4 and out.distinct().count() == 4


def test_jsonl_replay_quarantines_malformed_lines(spark, tmp_path):
    import json

    from paas_auditor_spark.sources.jsonl import read_envelope_jsonl

    dump = tmp_path / "dump.jsonl"
    dump.write_text(
        json.dumps(make_pages([[0, 1]])[0])
        + "\n"
        + "{not json at all\n"
        + '{"valid_json": "but not an envelope"}\n'
    )
    events, bad = read_envelope_jsonl(spark, str(dump), with_quarantine=True)
    assert events.count() == 2
    assert bad.count() == 2  # both non-envelope lines kept addressable


def test_clustered_write_makes_row_group_stats_selective(spark, sf_dir, tmp_path):
    """write_clustered must produce near-disjoint per-file value ranges on
    the cluster key (the precondition for row-group skipping), where a
    random layout's ranges all span the full domain."""
    from paas_auditor_spark.sources.partitioned import (
        row_group_stats,
        write_clustered,
    )
    from paas_auditor_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    clustered = str(tmp_path / "clustered")
    random_layout = str(tmp_path / "random")
    write_clustered(events, clustered, ["user_id", "ts"], num_files=4)
    events.repartition(4).write.mode("overwrite").parquet(random_layout)

    def spread(stats):
        lo = min(s[0] for s in stats)
        hi = max(s[1] for s in stats)
        full = hi - lo or 1
        return sum((s[1] - s[0]) / full for s in stats) / len(stats)

    clustered_spread = spread(row_group_stats(clustered, "user_id"))
    random_spread = spread(row_group_stats(random_layout, "user_id"))
    # each clustered row group covers a narrow slice of the key domain;
    # random row groups each cover ~the whole domain
    assert clustered_spread < 0.5 < random_spread
    # and the ranges tile the domain: sorted by min, overlaps are rare
    stats = sorted(row_group_stats(clustered, "user_id"))
    overlaps = sum(
        1 for a, b in zip(stats, stats[1:]) if b[0] < a[1]
    )
    assert overlaps <= len(stats) // 4


def test_event_json_emits_empty_string_for_null_fields(spark):
    """to_json drops null struct keys by default — event_json must emit
    "" instead (Go string struct fields are never nil), keeping the
    13-field json.Marshal layout stable for every row."""
    import json as _json

    from pyspark.sql import functions as F

    from paas_auditor_spark.functions.json_utils import event_json

    df = spark.createDataFrame(
        [("g1", dt.datetime(2024, 3, 1), "audit.x", None)],
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
    ev = _json.loads(payload)
    assert ev["actor_name"] == ""  # present, not dropped
    assert ev["organization_guid"] == ""
    assert list(ev.keys()) == [
        "guid", "type", "created_at", "actor", "actor_type", "actor_name",
        "actor_username", "actee", "actee_type", "actee_name",
        "organization_guid", "space_guid", "metadata",
    ]


def test_csv_source_quarantines_malformed_rows(spark, tmp_path):
    """Typed CSV scan: good rows parse to the events schema, unparseable
    lines land in the quarantine channel instead of vanishing."""
    from paas_auditor_spark.sources.csv import read_events_csv

    p = tmp_path / "events.csv"
    p.write_text(
        "event_id,ts,user_id,event_type,value,props\n"
        "1,2024-01-01T00:00:00,10,click,1.5,\"{}\"\n"
        "2,2024-01-01T00:01:00,11,view,2.0,\n"
        "not-a-number,garbage-ts,x,oops,NaNope,{}\n"
        "3,2024-01-01T00:02:00,12,error,9.9,\"{\"\"k\"\": 1}\"\n"
    )
    good, bad = read_events_csv(spark, str(p), with_quarantine=True)
    rows = {r["event_id"]: r for r in good.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[3]["props"] == '{"k": 1}'
    assert rows[1]["value"] == 1.5
    assert [c for c in good.columns] == [
        "event_id", "ts", "user_id", "event_type", "value", "props"
    ]
    bad_lines = [r["raw_line"] for r in bad.collect()]
    assert len(bad_lines) == 1 and bad_lines[0].startswith("not-a-number")


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


def test_delete_keys_rewrites_only_target_partition(spark, tmp_path):
    """Right-to-erasure: deleting guids from one date partition removes
    exactly those rows; the sibling partition's files are byte-identical
    afterwards (the lake outside the target partition is untouched)."""
    import datetime as dt
    import glob
    import hashlib
    import os

    from pyspark.sql import functions as F

    from paas_auditor_spark.sources.partitioned import (
        delete_keys_from_partition,
        list_partitions,
        write_partitioned,
    )

    bronze = str(tmp_path / "bronze")
    d1 = dt.datetime(2024, 3, 1, 12, 0, 0)
    d2 = dt.datetime(2024, 3, 2, 12, 0, 0)
    df = spark.createDataFrame(
        [(i, d1 + dt.timedelta(seconds=i)) for i in range(20)]
        + [(100 + i, d2 + dt.timedelta(seconds=i)) for i in range(20)],
        "guid long, created_at timestamp",
    )
    write_partitioned(df, bronze)

    def digest(part):
        h = hashlib.md5()
        for f in sorted(
            glob.glob(os.path.join(bronze, f"event_date={part}", "*.parquet"))
        ):
            h.update(open(f, "rb").read())
        return h.hexdigest()

    other_before = digest("2024-03-02")
    n = delete_keys_from_partition(
        spark, bronze, "2024-03-01", "guid", [3, 7, 999]
    )
    assert n == 2  # 999 never existed
    assert digest("2024-03-02") == other_before
    left = spark.read.parquet(bronze)
    assert left.count() == 38
    assert (
        left.filter(F.col("guid").isin([3, 7])).count() == 0
    )
    assert list_partitions(bronze) == ["2024-03-01", "2024-03-02"]


def test_delete_keys_keeps_null_key_rows(spark, tmp_path):
    """NOT IN is three-valued: null-key rows must survive a targeted
    delete of OTHER keys (regression: `~isin` alone drops them)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from paas_auditor_spark.sources.partitioned import (
        delete_keys_from_partition,
        write_partitioned,
    )

    bronze = str(tmp_path / "bronze")
    d1 = dt.datetime(2024, 3, 1, 12, 0, 0)
    df = spark.createDataFrame(
        [(1, d1), (2, d1), (None, d1)],
        "guid long, created_at timestamp",
    )
    write_partitioned(df, bronze)
    n = delete_keys_from_partition(spark, bronze, "2024-03-01", "guid", [2])
    assert n == 1
    left = spark.read.parquet(bronze)
    assert left.count() == 2
    assert left.filter(F.col("guid").isNull()).count() == 1


def test_null_guid_rows_quarantined_and_never_reappended(spark):
    """A null-guid event fails validation (reference: guid NOT NULL PK),
    and even if one reaches the merge, the anti-join guard keeps it from
    re-appending on every overlap re-read (NULL never equals NULL)."""
    from pyspark.sql import Row

    from paas_auditor_spark.operators.ingest import idempotent_merge

    schema = "guid string, created_at timestamp, event_type string"
    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    batch = spark.createDataFrame(
        [
            Row(guid="g1", created_at=base, event_type="a"),
            Row(guid=None, created_at=base, event_type="x"),
        ],
        schema,
    )
    valid, quarantined = validate_events(batch, ts_col="created_at")
    assert valid.count() == 1
    assert quarantined.count() == 1

    target = spark.createDataFrame([], schema)
    t1, fresh1 = idempotent_merge(target, batch, key_col="guid",
                                  ts_col="created_at")
    t2, fresh2 = idempotent_merge(t1, batch, key_col="guid",
                                  ts_col="created_at")
    # the null-guid row lands zero times; g1 exactly once
    assert t2.count() == 1
    assert fresh2.count() == 0
