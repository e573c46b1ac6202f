"""The parquet store's events stats log (``stores.ParquetStore``).

The per-tick reads trust a log of per-file stats: the watermark and the
count come from it without Spark, and the shipper's window and the
anti-join's keys are read with pyarrow from only the files whose logged
max reaches their floor.  The
directory listing stays the authority on which rows exist, so files the
log never saw are reconciled, and staged files that were never renamed
in are neither read nor shipped.  These tests count files and jobs, not
timings.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from paas_auditor_spark.functions.timecross import ts_string
from paas_auditor_spark.operators.cursor import unshipped_events
from paas_auditor_spark.sources.paginated_http import EVENT_ROWS
from paas_auditor_spark.stores import (
    EVENT_COLUMNS,
    DbApiStore,
    ParquetStore,
    dbapi_factory,
    file_stats,
)
from paas_auditor_spark.streaming.ship import ship_tick

from test_runner import spark_jobs_of

B = dt.datetime(2024, 3, 1, 0, 0, 0)


def arrow_events(guids: list[str], times: list[dt.datetime]) -> pa.Table:
    """Events in the table's column layout, ``created_at`` as UTC
    microseconds (the layout pyarrow writers such as the benchmark's
    history file use)."""
    cols = {
        "guid": guids,
        "created_at": pa.array(
            [t.replace(tzinfo=dt.timezone.utc) for t in times],
            pa.timestamp("us", tz="UTC"),
        ),
    }
    for c in EVENT_COLUMNS[2:]:
        cols[c] = pa.array(
            [{"metadata": "{}"}.get(c, None if c.endswith("_guid") else "x")]
            * len(guids),
            pa.string(),
        )
    return pa.table(cols)


def event_rows(rows: list[tuple[str, dt.datetime]]) -> list[tuple]:
    """``EVENT_ROWS`` tuples for (guid, UTC wall clock) pairs, as the
    decoder makes them: ``created_at`` aware UTC."""
    return [
        (g, t.replace(tzinfo=dt.timezone.utc), *["x"] * 10, "{}")
        for g, t in rows
    ]


def spark_events(spark, rows: list[tuple[str, dt.datetime]]):
    """``event_rows`` as a Spark frame; the aware ``created_at``
    converts without the process timezone."""
    return spark.createDataFrame(event_rows(rows), EVENT_ROWS)


def data_files(path: str) -> list[str]:
    return sorted(n for n in os.listdir(path) if not n.startswith(("_", ".")))


def spark_max_count(spark, path: str) -> tuple[str, int]:
    row = spark.read.parquet(path).agg(
        ts_string(F.max("created_at")).alias("mx"), F.count(F.lit(1)).alias("n")
    ).first()
    return row["mx"], row["n"]


def test_tail_scans_touch_at_most_two_of_400_files(spark, tmp_path, monkeypatch):
    """400 small files written straight into the table (the log never saw
    them): the shipper's window and the anti-join's key read each touch
    at most 2 files, and the watermark and count equal Spark's over the
    directory."""
    from paas_auditor_spark import stores

    store = ParquetStore(spark, str(tmp_path / "wh"))
    for i in range(400):
        times = [B + dt.timedelta(seconds=10 * i + k) for k in range(3)]
        pq.write_table(
            arrow_events([f"{i}-{k}" for k in range(3)], times),
            os.path.join(store.events_dir, f"part-{i:05d}.parquet"),
        )
    last = B + dt.timedelta(seconds=10 * 399 + 2)

    read: list[str] = []
    real = stores._read_events

    def recording(path, columns):
        read.append(path)
        return real(path, columns)

    cursor_ts = B + dt.timedelta(seconds=10 * 398 + 1)
    store.upsert_cursor("s", cursor_ts, "398-1")
    tail = store.files(cursor_ts)  # reconciles the 400 unlogged files
    monkeypatch.setattr(stores, "_read_events", recording)
    unshipped = store.unshipped_events("s", 8192)
    monkeypatch.undo()
    assert 1 <= len(read) <= 2
    assert read == tail
    assert [r[0] for r in unshipped] == ["398-2", "399-0", "399-1", "399-2"]

    read.clear()
    monkeypatch.setattr(stores, "_read_events", recording)
    keys = store.overlap_keys(last - dt.timedelta(seconds=5))
    monkeypatch.undo()
    assert 1 <= len(read) <= 2
    assert read == store.files(last - dt.timedelta(seconds=5))
    assert sorted(keys) == ["399-0", "399-1", "399-2"]

    mx, n = spark_max_count(spark, store.events_dir)
    assert store.latest_event_time() == dt.datetime.fromisoformat(mx) == last
    assert store.event_count() == n == 1200


def test_staged_leftover_is_swept_and_never_shipped(spark, tmp_path):
    """A part file under ``_staging/`` (an append killed before its
    rename) is not a row of the table: no read sees it, and the next
    start removes it."""
    wh = str(tmp_path / "wh")
    store = ParquetStore(spark, wh)
    assert store.append_events(event_rows([("a", B)])) == 1
    leftover = os.path.join(store.staging_dir, "killed")
    os.makedirs(leftover)
    pq.write_table(
        arrow_events(["staged"], [B + dt.timedelta(seconds=1)]),
        os.path.join(leftover, "part-00000.parquet"),
    )

    assert store.event_count() == 1
    assert store.latest_event_time() == B
    assert [r[0] for r in store.unshipped_events("s", 10)] == ["a"]

    again = ParquetStore(spark, wh)
    assert not os.path.exists(store.staging_dir)
    sent: list[str] = []
    assert ship_tick(again, sent.append, "s", "test", 10, sleep=lambda s: None) == 1
    assert "staged" not in "".join(sent)
    assert spark.read.parquet(store.events_dir).count() == 1


def test_file_renamed_in_but_not_logged_is_reconciled(spark, tmp_path):
    """A crash between an append's rename and its log entry leaves a
    committed file the log lacks: its rows ship and its max is the
    watermark, in the same store and after a restart."""
    wh = str(tmp_path / "wh")
    store = ParquetStore(spark, wh)
    store.append_events(event_rows([("a", B)]))
    spark_events(spark, [("b", B + dt.timedelta(hours=1))]).coalesce(1).write.parquet(
        str(tmp_path / "elsewhere")
    )
    (part,) = data_files(str(tmp_path / "elsewhere"))
    os.rename(
        os.path.join(tmp_path / "elsewhere", part),
        os.path.join(store.events_dir, part),
    )

    assert store.latest_event_time() == B + dt.timedelta(hours=1)
    restarted = ParquetStore(spark, wh)
    assert restarted.latest_event_time() == B + dt.timedelta(hours=1)
    assert restarted.event_count() == 2
    sent: list[str] = []
    assert ship_tick(restarted, sent.append, "s", "test", 10, sleep=lambda s: None) == 2
    shipped = [json.loads(ln)["event"]["guid"] for ln in sent[0].split("\n")]
    assert shipped == ["a", "b"]


def test_int96_file_stats_do_not_depend_on_process_tz(spark, tmp_path):
    """Spark writes ``created_at`` as INT96, which has no footer min/max:
    the table of a warehouse whose appends an earlier version wrote with
    Spark holds such files.  Their stats come from the column itself and
    are the UTC wall clock under any process timezone, and so is the
    anti-join's key read, to the microsecond.  The instants sit around
    midnight, so a shift by the New York or Kolkata offset would change
    them."""
    wh = str(tmp_path / "wh")
    lo, hi = B - dt.timedelta(minutes=20), B + dt.timedelta(minutes=20, microseconds=5)
    store = ParquetStore(spark, wh)
    spark_events(spark, [("a", lo), ("b", hi)]).coalesce(1).write.mode(
        "append"
    ).parquet(store.events_dir)
    (part,) = [n for n in data_files(store.events_dir) if file_stats(
        os.path.join(store.events_dir, n)).rows]
    path = os.path.join(store.events_dir, part)
    column = pq.ParquetFile(path).metadata.row_group(0).column(1)
    assert column.physical_type == "INT96"
    assert not column.is_stats_set or not column.statistics.has_min_max

    old_tz = os.environ.get("TZ")
    got = {}
    try:
        for tz in ("UTC", "America/New_York", "Asia/Kolkata"):
            os.environ["TZ"] = tz
            time.tzset()
            shutil.rmtree(store.log_dir)  # every start reconciles afresh
            s = file_stats(path)
            again = ParquetStore(spark, wh)
            got[tz] = (
                s.lo, s.hi, again.latest_event_time(),
                sorted(again.overlap_keys(lo)),
                sorted(again.overlap_keys(lo + dt.timedelta(microseconds=1))),
            )
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
    assert got["UTC"] == (lo, hi, hi, ["a", "b"], ["b"])
    assert got["America/New_York"] == got["UTC"]
    assert got["Asia/Kolkata"] == got["UTC"]


def test_append_writes_int64_created_at_with_footer_stats(spark, tmp_path):
    """A store append writes ``created_at`` as INT64 microseconds adjusted
    to UTC, with footer min/max equal to the file's logged stats."""
    lo, hi = B - dt.timedelta(minutes=20), B + dt.timedelta(minutes=20, microseconds=5)
    store = ParquetStore(spark, str(tmp_path / "wh"))
    before = data_files(store.events_dir)
    assert store.append_events(event_rows([("a", lo), ("b", hi)])) == 2
    (part,) = set(data_files(store.events_dir)) - set(before)
    path = os.path.join(store.events_dir, part)
    meta = pq.ParquetFile(path).metadata
    column = meta.row_group(0).column(1)
    assert column.path_in_schema == "created_at"
    assert column.physical_type == "INT64"
    logical = json.loads(meta.schema.column(1).logical_type.to_json())
    assert (logical["Type"], logical["isAdjustedToUTC"], logical["timeUnit"]) == (
        "Timestamp", True, "microseconds"
    )
    assert column.is_stats_set and column.statistics.has_min_max
    utc = dt.timezone.utc
    assert column.statistics.min == lo.replace(tzinfo=utc)
    assert column.statistics.max == hi.replace(tzinfo=utc)
    assert file_stats(path) == (2, lo, hi)


def test_empty_append_commits_no_file(spark, tmp_path):
    store = ParquetStore(spark, str(tmp_path / "wh"))
    store.append_events(event_rows([("a", B)]))
    files, entries = data_files(store.events_dir), os.listdir(store.log_dir)
    assert store.append_events([]) == 0
    assert data_files(store.events_dir) == files
    assert os.listdir(store.log_dir) == entries
    assert store.event_count() == 1


def test_informer_and_watermark_run_no_spark_job(spark, tmp_path):
    from paas_auditor_spark.runner import Service

    svc = Service(spark, warehouse_dir=str(tmp_path / "wh"))
    svc.store.append_events(event_rows([("a", B), ("b", B)]))
    assert spark_jobs_of(spark, svc.informer_tick) == []
    assert spark_jobs_of(spark, svc.store.latest_event_time) == []
    assert svc.metrics.get("informer_cf_audit_events_total") == 2
    # the probe sees jobs where there are some
    full_scan = spark.read.parquet(svc.store.events_dir)
    assert spark_jobs_of(spark, full_scan.count)


@pytest.mark.parametrize("floor_s", [0, 30, 60])
def test_pruned_reads_match_full_scan(spark, tmp_path, floor_s):
    """The anti-join keys and the shipper window over the pruned files
    equal the same filter and the Spark cursor operator over every
    file."""
    store = ParquetStore(spark, str(tmp_path / "wh"))
    for k in range(4):
        store.append_events(
            event_rows(
                [(f"{k}-{j}", B + dt.timedelta(seconds=20 * k + j)) for j in range(5)]
            )
        )
    floor = B + dt.timedelta(seconds=floor_s)
    everything = spark.read.parquet(store.events_dir)
    want = sorted(
        r["guid"]
        for r in everything.filter(
            F.col("created_at") >= F.lit(floor.isoformat(sep=" ")).cast("timestamp")
        ).collect()
    )
    assert sorted(store.overlap_keys(floor)) == want
    store.upsert_cursor("s", floor, "")
    window = [
        r["guid"] for r in unshipped_events(everything, floor, "", 100).collect()
    ]
    assert window == want
    assert [r[0] for r in store.unshipped_events("s", 100)] == window


def test_window_tuples_hold_the_values_and_types_of_to_pylist(spark, tmp_path):
    """``unshipped_events`` turns the window's columns into Python values
    through numpy: the tuples equal ``to_pylist``'s of the same window,
    value and type, over a pyarrow append, a Spark INT96 file and a
    zoned file, with NULL guids of org and space, NULL metadata and
    microsecond instants.  Strings stay ``str`` (never ``numpy.str_``)
    and ``created_at`` a naive ``datetime`` (never ``datetime64``)."""
    def rows(prefix: str, seconds: list[int]) -> list[tuple]:
        return [
            (
                f"{prefix}{i}",
                (B + dt.timedelta(seconds=s, microseconds=i + 1)).replace(
                    tzinfo=dt.timezone.utc
                ),
                "audit.ü", f"actor-{i}", "user", "名前", "u", "e", "app", "n",
                None if i % 2 else f"org-{i}",
                None if i % 2 else f"space-{i}",
                None if i % 2 else '{"k":"v\\u00e9"}',
            )
            for i, s in enumerate(seconds)
        ]

    store = ParquetStore(spark, str(tmp_path / "wh"))
    store.append_events(rows("a", [1, 4, 7]))
    spark.createDataFrame(rows("s", [2, 5]), EVENT_ROWS).coalesce(1).write.mode(
        "append"
    ).parquet(store.events_dir)
    table = arrow_events(["z0", "z1"], [B + dt.timedelta(seconds=3), B])
    zoned = table.column("created_at").cast(pa.timestamp("us", "Asia/Kolkata"))
    pq.write_table(
        table.set_column(1, "created_at", zoned),
        os.path.join(store.events_dir, "part-zoned.parquet"),
    )

    got = store.unshipped_events("s", 100)
    window = store._since(B, EVENT_COLUMNS).sort_by(
        [("created_at", "ascending"), ("guid", "ascending")]
    )
    want = list(zip(*(c.to_pylist() for c in window.columns)))
    assert len(got) == len(want) == 7
    assert [r[0] for r in got] == ["z1", "a0", "s0", "z0", "a1", "s1", "a2"]
    for g, w in zip(got, want):
        assert g == w
        assert [type(v) for v in g] == [type(v) for v in w]
    assert {type(v) for r in got for v in r} == {str, type(None), dt.datetime}
    assert all(r[1].tzinfo is None for r in got)
    assert got[4][10:] == got[5][10:] == (None, None, None)
    assert got[0][10:] == (None, None, "{}")

    store.upsert_cursor("s", B + dt.timedelta(days=1), "none")
    assert store.unshipped_events("s", 100) == []
    keys = store.overlap_keys(B + dt.timedelta(seconds=4))
    assert type(keys) is set and keys == {"a1", "s1", "a2"}
    assert {type(k) for k in keys} == {str}


def make_store(kind: str, spark, tmp_path):
    if kind == "parquet":
        return ParquetStore(spark, str(tmp_path / "wh"))
    return DbApiStore(dbapi_factory("duckdb", str(tmp_path / "store.duckdb")))


@pytest.mark.parametrize("kind", ["parquet", "dbapi"])
def test_mixed_encodings_ship_one_window(spark, tmp_path, kind):
    """History in a pyarrow file whose ``created_at`` is zoned (here
    Asia/Kolkata, the same instants as UTC), as the benchmark seeds its
    warehouse, a Spark-written INT96 file, as an earlier version's
    appends wrote them, and the store's own INT64 UTC appends, all
    interleaved in time: the shipper's window is one ship order of naive
    UTC wall clocks, equal to the Spark cursor operator's over the
    directory.  ``DbApiStore``, given the same rows through
    ``append_events``, returns the same window."""
    history = [(f"h{i}", B + dt.timedelta(seconds=10 * i)) for i in range(6)]
    legacy = [
        ("s0", B + dt.timedelta(seconds=8)),
        ("s1", B + dt.timedelta(seconds=25, microseconds=3)),
        ("s2", B + dt.timedelta(seconds=50)),
    ]
    appends = [
        [("a0", B + dt.timedelta(seconds=5)), ("a1", B + dt.timedelta(seconds=20))],
        [("a2", B + dt.timedelta(seconds=45, microseconds=7))],
    ]
    store = make_store(kind, spark, tmp_path)
    if kind == "parquet":
        table = arrow_events(*map(list, zip(*history)))
        zoned = table.column("created_at").cast(pa.timestamp("us", "Asia/Kolkata"))
        pq.write_table(
            table.set_column(1, "created_at", zoned),
            os.path.join(store.events_dir, "part-history.parquet"),
        )
        spark_events(spark, legacy).coalesce(1).write.mode("append").parquet(
            store.events_dir
        )
    else:
        store.append_events(event_rows(history))
        store.append_events(event_rows(legacy))
    for rows in appends:
        store.append_events(event_rows(rows))
    store.upsert_cursor("s", B + dt.timedelta(seconds=10), "h1")

    got = store.unshipped_events("s", 100)
    assert [(r[0], r[1]) for r in got] == [
        ("a1", B + dt.timedelta(seconds=20)),
        ("h2", B + dt.timedelta(seconds=20)),
        ("s1", B + dt.timedelta(seconds=25, microseconds=3)),
        ("h3", B + dt.timedelta(seconds=30)),
        ("h4", B + dt.timedelta(seconds=40)),
        ("a2", B + dt.timedelta(seconds=45, microseconds=7)),
        ("h5", B + dt.timedelta(seconds=50)),
        ("s2", B + dt.timedelta(seconds=50)),
    ]
    assert all(len(r) == len(EVENT_COLUMNS) for r in got)
    if kind == "parquet":
        encodings = {
            pq.ParquetFile(path).schema.column(1).physical_type
            for path in store.files()
        }
        assert encodings == {"INT64", "INT96"}
        everything = spark.read.parquet(store.events_dir)
        want = unshipped_events(everything, B + dt.timedelta(seconds=10), "h1")
        assert [r[0] for r in got] == [r["guid"] for r in want.collect()]


@pytest.mark.parametrize("kind", ["parquet", "dbapi"])
def test_saturated_window_drops_the_shipped_guid_after_the_cap(
    spark, tmp_path, kind
):
    """The cap applies before the last-shipped guid is dropped, as in the
    reference's CTE: with more rows than the cap from the cursor on, cap
    N yields N - 1 rows."""
    store = make_store(kind, spark, tmp_path)
    store.append_events(
        event_rows([(f"e{i}", B + dt.timedelta(seconds=i)) for i in range(10)])
    )
    store.upsert_cursor("s", B, "e0")
    assert [r[0] for r in store.unshipped_events("s", 5)] == ["e1", "e2", "e3", "e4"]
    store.upsert_cursor("s", B + dt.timedelta(seconds=8), "e8")
    assert [r[0] for r in store.unshipped_events("s", 5)] == ["e9"]


def test_concurrent_readers_and_writer_lose_no_stats(spark, tmp_path):
    """Readers on several threads reconcile while files keep arriving (the
    streaming sink and the shipper share one store): every entry written
    is whole, none overwrites another, and a restart sees every row."""
    import sys
    import threading

    store = ParquetStore(spark, str(tmp_path / "wh"))
    stop = threading.Event()
    errors: list[BaseException] = []

    def read() -> None:
        try:
            while not stop.is_set():
                store.event_count()
                store.latest_event_time()
        except BaseException as ex:  # reported by the assert below
            errors.append(ex)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    readers = [threading.Thread(target=read) for _ in range(8)]
    try:
        for t in readers:
            t.start()
        for i in range(60):
            # written aside and renamed in whole, as an append commits
            tmp = os.path.join(store.events_dir, f".part-{i:05d}.tmp")
            pq.write_table(
                arrow_events([str(i)], [B + dt.timedelta(seconds=i)]), tmp
            )
            os.rename(
                tmp, os.path.join(store.events_dir, f"part-{i:05d}.parquet")
            )
    finally:
        stop.set()
        for t in readers:
            t.join(timeout=60)
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in readers)
    assert errors == []
    assert store.event_count() == 60
    logged = set()
    for name in os.listdir(store.log_dir):
        with open(os.path.join(store.log_dir, name)) as fh:
            logged |= {f["name"] for f in json.load(fh)["files"]}
    assert set(data_files(store.events_dir)) <= logged
    restarted = ParquetStore(spark, str(tmp_path / "wh"))
    assert restarted.event_count() == 60
    assert restarted.latest_event_time() == B + dt.timedelta(seconds=59)
