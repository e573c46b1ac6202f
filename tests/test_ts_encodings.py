"""The driver has shipped events.parquet with three different physical
timestamp encodings across rounds: TIMESTAMP(NANOS), TIMESTAMP(MICROS,
adjusted-to-UTC) and TIMESTAMP(MICROS, naive) — the last reads as
TIMESTAMP_NTZ in Spark 4, which refuses direct numeric casts
(CAST_WITHOUT_SUGGESTION broke sessionization/trend_by_type in round 3).

Pin that every epoch-dependent query path produces IDENTICAL results for
all three encodings of the same instants, so a future re-encode of the
testdata cannot regress the engine again.
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from paas_auditor_spark.queries import (
    q_cohort_retention,
    q_sessionization,
    q_trend_by_type,
)

BASE = dt.datetime(2024, 1, 1, 0, 0, 0)
# same instants in every encoding; whole microseconds so ns→us truncation
# is lossless and the three variants are bit-identical logically
ROWS = [
    # user 1: two sessions (gap > 30 min between event 2 and 3)
    (1, BASE + dt.timedelta(seconds=0), 1, "click", 10.0, None),
    (2, BASE + dt.timedelta(seconds=60), 1, "view", 20.0, "{}"),
    (3, BASE + dt.timedelta(seconds=60 + 1801), 1, "click", 30.0, None),
    # user 2: one session
    (4, BASE + dt.timedelta(seconds=5), 2, "view", 40.0, "{}"),
    (5, BASE + dt.timedelta(seconds=900), 2, "error", 50.0, None),
    # microsecond-precision instants (sub-second gaps)
    (6, BASE + dt.timedelta(days=30, microseconds=123456), 3, "click", 60.0, None),
    (7, BASE + dt.timedelta(days=30, seconds=1, microseconds=654321), 3, "click", 70.0, None),
]


def _write_events(path: str, ts_type: pa.DataType) -> None:
    cols = list(zip(*ROWS))
    table = pa.table(
        {
            "event_id": pa.array(cols[0], pa.int64()),
            "ts": pa.array(cols[1], ts_type),
            "user_id": pa.array(cols[2], pa.int64()),
            "event_type": pa.array(cols[3], pa.string()),
            "value": pa.array(cols[4], pa.float64()),
            "props": pa.array(cols[5], pa.string()),
        }
    )
    pq.write_table(table, f"{path}/events.parquet")


ENCODINGS = {
    "us_naive": pa.timestamp("us"),           # → TIMESTAMP_NTZ (round 3+)
    "us_utc": pa.timestamp("us", tz="UTC"),   # → TIMESTAMP (rounds 1-2)
    "ns_naive": pa.timestamp("ns"),           # → long via nanosAsLong conf
}


@pytest.mark.parametrize(
    "query", [q_sessionization, q_cohort_retention, q_trend_by_type]
)
def test_epoch_queries_invariant_across_ts_encodings(spark, tmp_path, query):
    results = {}
    for name, ts_type in ENCODINGS.items():
        d = tmp_path / name
        d.mkdir()
        _write_events(str(d), ts_type)
        results[name] = [tuple(r) for r in query(spark, str(d)).collect()]
    assert results["us_naive"] == results["us_utc"] == results["ns_naive"]
    # sessionization sanity on the fixture itself: user 1 splits in two
    if query is q_sessionization:
        assert (1, 2) in results["us_naive"] and (2, 1) in results["us_naive"]


def test_utc_pinned_under_non_utc_caller_session(spark, tmp_path):
    """load_table pins the session timezone to UTC, so epoch/format
    results stay oracle-correct even when a caller (or the driver) built
    the session with a different zone."""
    import datetime as dt

    from paas_auditor_spark.queries import q_epoch_seconds, q_time_format

    d = tmp_path / "tzcheck"
    d.mkdir()
    _write_events(str(d), pa.timestamp("us"))

    original = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        row = (
            q_epoch_seconds(spark, str(d))
            .filter("event_id = 1")
            .collect()[0]
        )
        # 2024-01-01T00:00:00 naive == that instant in UTC, not EST
        assert row["epoch_s"] == int(
            dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()
        )
        fmt = (
            q_time_format(spark, str(d)).filter("event_id = 1").collect()[0]
        )
        assert fmt["ts_str"] == "2024-01-01T00:00:00Z"
    finally:
        spark.conf.set("spark.sql.session.timeZone", original)


def test_unshipped_boundary_immune_to_python_process_tz(spark, sf_dir):
    """PySpark converts naive-datetime literals with the PYTHON process
    timezone, while column casts use the session timezone — if the
    cursor literal crossed as a datetime object, a non-UTC process tz
    would shift the shipper window 5 h (8192 rows instead of 8191).
    The literal goes through a wall-clock string instead; flipping the
    process tz mid-test must not move the boundary."""
    import os
    import time

    from paas_auditor_spark.queries import q_unshipped_events

    before = q_unshipped_events(spark, sf_dir).count()
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        after = q_unshipped_events(spark, sf_dir).count()
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
    # sf0.001 fixture: 1000 events, cursor at the 100th → 900 unshipped
    assert before == after == 900


def test_cursor_roundtrip_immune_to_process_tz_both_directions(spark, tmp_path):
    """Non-vacuous tz regression: events sit INSIDE the tz-offset window
    on both sides of the cursor, so any process-tz leak in the cursor
    round trip (commit → cursor file → literal) moves the boundary and
    changes the result set.  Run the full ``ParquetStore`` cycle
    upsert_cursor → unshipped_events under UTC, America/New_York (west)
    and Asia/Kolkata (east, half-hour offset): identical batches
    required."""
    import datetime as dt
    import os
    import time

    from pyspark.sql import functions as F

    from paas_auditor_spark.stores import EVENT_COLUMNS, ParquetStore

    B = dt.datetime(2024, 3, 1, 12, 0, 0)
    # events every 30 min across ±6 h around the noon cursor
    events = spark.createDataFrame(
        [
            (str(i), B + dt.timedelta(minutes=30 * (i - 12)))
            for i in range(25)
        ],
        "guid string, created_at timestamp",
    )
    store = ParquetStore(spark, str(tmp_path / "wh"))
    store.append_events(
        events.select(
            *(
                F.col(c) if c in events.columns else F.lit("x").alias(c)
                for c in EVENT_COLUMNS
            )
        )
    )

    def run_cycle():
        from paas_auditor_spark.functions.timecross import ts_string

        store.upsert_cursor("s", B, "12")
        got = (
            store.unshipped_events("s", 8192)
            # compare JVM-rendered wall clocks: collecting the datetime
            # OBJECTS would re-introduce the process-tz rendering this
            # test exists to exclude from engine semantics
            .select("guid", ts_string("created_at").alias("ca"))
            .collect()
        )
        return [(r["guid"], r["ca"]) for r in got]

    old_tz = os.environ.get("TZ")
    results = {}
    try:
        for tz in ("UTC", "America/New_York", "Asia/Kolkata"):
            os.environ["TZ"] = tz
            time.tzset()
            results[tz] = run_cycle()
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()

    # cursor at noon, shipped id '12' excluded: exactly the 12 events
    # at/after noon minus the shipped one
    assert len(results["UTC"]) == 12
    assert "12" not in {g for g, _ in results["UTC"]}
    assert results["America/New_York"] == results["UTC"]
    assert results["Asia/Kolkata"] == results["UTC"]


def test_both_ingest_paths_store_and_ship_the_same_instants_under_any_process_tz(
    spark, tmp_path
):
    """The collector tick hands ``ingest_delta`` the decoder's aware
    datetimes; ``store_sink`` collects the micro-batch as wall-clock
    strings.  Under UTC, America/New_York and Asia/Kolkata process
    timezones both paths store the same ``created_at`` instants, derive
    the same watermark and ship byte-identical payloads.  The events sit
    around midnight UTC, one with a +05:30 offset and microseconds, so a
    shift by either offset would show."""
    import datetime as dt
    import os
    import time

    from paas_auditor_spark.config import EngineConfig
    from paas_auditor_spark.functions.timecross import ts_string
    from paas_auditor_spark.runner import Service
    from paas_auditor_spark.sources.paginated_http import EVENT_ROWS, decode_pages
    from paas_auditor_spark.streaming.pipeline import store_sink

    created = [
        "2024-03-01T23:40:00Z",
        "2024-03-02T05:35:00.250001+05:30",  # 00:05:00.250001Z
        "2024-03-02T00:20:00Z",
    ]
    page = {
        "next_url": None,
        "resources": [
            {
                "metadata": {"guid": f"g{i}", "created_at": c},
                "entity": {"type": "audit.app.create", "metadata": {"i": i}},
            }
            for i, c in enumerate(created)
        ],
    }
    cfg = EngineConfig()
    cfg.pagination_wait_s = 0.0

    def run(tz: str) -> dict:
        out = {}
        for mode in ("collector_tick", "store_sink"):
            sent: list[str] = []
            svc = Service(
                spark,
                warehouse_dir=str(tmp_path / tz.replace("/", "_") / mode),
                transport=lambda url: page,
                sender=sent.append,
                cfg=cfg,
            )
            if mode == "collector_tick":
                assert svc.collector_tick() == 3
            else:
                batch = spark.createDataFrame(
                    list(decode_pages([page])), EVENT_ROWS
                )
                store_sink(svc.store, svc.metrics)(batch, 0)
                assert svc.store.event_count() == 3
            assert svc.shipper_tick() == 3
            stored = sorted(
                (r["guid"], r["ca"])
                for r in svc.store.events_df()
                .select("guid", ts_string("created_at").alias("ca"))
                .collect()
            )
            out[mode] = (stored, svc._watermark(), sent)
        return out

    old_tz = os.environ.get("TZ")
    results = {}
    try:
        for tz in ("UTC", "America/New_York", "Asia/Kolkata"):
            os.environ["TZ"] = tz
            time.tzset()
            results[tz] = run(tz)
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()

    want_stored = [
        ("g0", "2024-03-01 23:40:00.000000"),
        ("g1", "2024-03-02 00:05:00.250001"),
        ("g2", "2024-03-02 00:20:00.000000"),
    ]
    want = results["UTC"]["collector_tick"]
    assert want[0] == want_stored
    assert want[1] == dt.datetime(2024, 3, 2, 0, 19, 55)
    assert '"created_at":"2024-03-02T00:05:00Z"' in want[2][0]
    for tz, modes in results.items():
        for mode, got in modes.items():
            assert got == want, (tz, mode)
