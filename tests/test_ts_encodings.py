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


def _store(kind: str, spark, path):
    """A fresh ``ParquetStore`` or ``DbApiStore`` over DuckDB at ``path``.

    DuckDB reads the local timezone once, when it loads, and converts an
    aware datetime bound to a ``TIMESTAMP`` column through it.  Each
    connection is therefore set to the current ``TZ``, as in a process
    started under it."""
    import os

    import duckdb

    from paas_auditor_spark.stores import DbApiStore, ParquetStore

    if kind == "parquet":
        return ParquetStore(spark, str(path / "wh"))
    path.mkdir(parents=True, exist_ok=True)

    def connect():
        con = duckdb.connect(str(path / "store.duckdb"))
        con.execute(f"SET GLOBAL TimeZone = '{os.environ.get('TZ', 'UTC')}'")
        return con

    return DbApiStore(connect)


def _under_each_tz(fn) -> dict:
    """``fn(tz)`` under the UTC, America/New_York (west) and Asia/Kolkata
    (east, half-hour offset) process timezones."""
    import os
    import time

    old_tz = os.environ.get("TZ")
    results = {}
    try:
        for tz in ("UTC", "America/New_York", "Asia/Kolkata"):
            os.environ["TZ"] = tz
            time.tzset()
            results[tz] = fn(tz)
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
    return results


def test_cursor_roundtrip_immune_to_process_tz_both_directions(spark, tmp_path):
    """Non-vacuous tz regression: events sit INSIDE the tz-offset window
    on both sides of the cursor, so any process-tz leak in the round trip
    (append → stored instant, commit → cursor → window bound) moves the
    boundary and changes the result set.  Run the full cycle
    append_events → upsert_cursor → unshipped_events on a fresh store of
    each kind under each process timezone: identical batches required."""
    import datetime as dt

    B = dt.datetime(2024, 3, 1, 12, 0, 0)
    # events every 30 min across ±6 h around the noon cursor
    rows = [
        (str(i), (B + dt.timedelta(minutes=30 * (i - 12))).replace(
            tzinfo=dt.timezone.utc), *["x"] * 10, "{}")
        for i in range(25)
    ]

    def run_cycle(tz: str) -> dict:
        out = {}
        for kind in ("parquet", "dbapi"):
            store = _store(kind, spark, tmp_path / tz.replace("/", "_") / kind)
            store.append_events(rows)
            store.upsert_cursor("s", B, "12")
            out[kind] = [(r[0], r[1]) for r in store.unshipped_events("s", 8192)]
        return out

    results = _under_each_tz(run_cycle)
    # cursor at noon, shipped id '12' excluded: exactly the 12 events
    # after noon, as naive UTC wall clocks
    want = [
        (str(i), B + dt.timedelta(minutes=30 * (i - 12))) for i in range(13, 25)
    ]
    for tz, kinds in results.items():
        assert kinds == {"parquet": want, "dbapi": want}, tz


def test_both_ingest_paths_store_and_ship_the_same_instants_under_any_process_tz(
    spark, tmp_path
):
    """The collector tick hands ``ingest_delta`` the decoder's aware
    datetimes; ``store_sink`` collects the micro-batch with ``toArrow``
    as UTC instants.  Under UTC, America/New_York and Asia/Kolkata process
    timezones both paths store the same ``created_at`` instants, derive
    the same watermark and ship byte-identical payloads, on
    ``ParquetStore`` and on ``DbApiStore`` over DuckDB.
    The events sit around midnight UTC, one with a +05:30 offset and
    microseconds, so a shift by either offset would show."""
    import datetime as dt
    import itertools

    import duckdb

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
                # every NOT NULL column of the relational store filled
                "entity": {
                    "type": "audit.app.create",
                    **{
                        f: f"{f}-{i}"
                        for f in ("actor", "actor_type", "actor_name",
                                  "actor_username", "actee", "actee_type",
                                  "actee_name")
                    },
                    "metadata": {"i": i},
                },
            }
            for i, c in enumerate(created)
        ],
    }
    cfg = EngineConfig()
    cfg.pagination_wait_s = 0.0

    def stored_rows(kind, store, path) -> list:
        if kind == "parquet":
            return sorted(
                (r["guid"], r["ca"])
                for r in spark.read.parquet(store.events_dir)
                .select("guid", ts_string("created_at").alias("ca"))
                .collect()
            )
        con = duckdb.connect(str(path / "store.duckdb"))
        rows = con.execute("SELECT guid, created_at FROM cf_audit_events").fetchall()
        con.close()
        return sorted(
            (g, c.isoformat(sep=" ", timespec="microseconds")) for g, c in rows
        )

    def run(tz: str) -> dict:
        out = {}
        for kind, mode in itertools.product(
            ("parquet", "dbapi"), ("collector_tick", "store_sink")
        ):
            sent: list[str] = []
            path = tmp_path / tz.replace("/", "_") / kind / mode
            store = _store(kind, spark, path)
            svc = Service(
                spark,
                transport=lambda url: page,
                sender=sent.append,
                cfg=cfg,
                store=store,
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
            out[kind, mode] = (
                stored_rows(kind, store, path), svc._watermark(), sent
            )
        return out

    results = _under_each_tz(run)
    want_stored = [
        ("g0", "2024-03-01 23:40:00.000000"),
        ("g1", "2024-03-02 00:05:00.250001"),
        ("g2", "2024-03-02 00:20:00.000000"),
    ]
    want = results["UTC"]["parquet", "collector_tick"]
    assert want[0] == want_stored
    assert want[1] == dt.datetime(2024, 3, 2, 0, 19, 55)
    assert '"created_at":"2024-03-02T00:05:00Z"' in want[2][0]
    for tz, modes in results.items():
        for mode, got in modes.items():
            assert got == want, (tz, mode)
