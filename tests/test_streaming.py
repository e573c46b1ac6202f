"""Structured Streaming ingest: micro-batch file source → dedup → store
(T1/T3/T5/T7 semantics through the real streaming engine)."""

from __future__ import annotations

import datetime as dt
import uuid
import pytest

from paas_auditor_spark.schemas import CF_AUDIT_EVENT
from paas_auditor_spark.stores import ParquetStore
from paas_auditor_spark.streaming.pipeline import stream_to_store

BASE = dt.datetime(2024, 3, 1, 12, 0, 0)


def _rows(ids):
    return [
        (
            str(uuid.UUID(int=i)),
            BASE + dt.timedelta(seconds=i),
            "audit.app.create",
            f"actor-{i}", "user", f"an-{i}", f"u-{i}",
            f"actee-{i}", "app", f"aen-{i}",
            None, None, "{}",
        )
        for i in ids
    ]


def test_stream_to_store_dedups_across_microbatches(spark, tmp_path):
    src = str(tmp_path / "src")
    store = ParquetStore(spark, str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")

    # two source files with overlapping guids; maxFilesPerTrigger=1 forces
    # two separate micro-batches, so the dedup must work across batches
    spark.createDataFrame(_rows([0, 1, 2]), schema=CF_AUDIT_EVENT).coalesce(
        1
    ).write.mode("overwrite").parquet(src)
    spark.createDataFrame(_rows([2, 3, 4]), schema=CF_AUDIT_EVENT).coalesce(
        1
    ).write.mode("append").parquet(src)

    q = stream_to_store(
        spark, src, store, ckpt, CF_AUDIT_EVENT, max_files_per_trigger=1
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()  # graceful shutdown (T7)

    out = store.events_df()
    assert out.count() == 5
    assert out.select("guid").distinct().count() == 5


def test_windowed_counts_streaming_matches_batch(spark, tmp_path):
    """The same windowed-agg function run as a stream equals the batch run
    (one definition, two execution modes)."""
    import pyspark.sql.functions as F

    from paas_auditor_spark.streaming.windows import windowed_event_counts

    src = str(tmp_path / "wsrc")
    rows = [
        (i, BASE + dt.timedelta(minutes=7 * i), f"u{i % 3}",
         "click" if i % 2 == 0 else "view", float(i))
        for i in range(40)
    ]
    schema = "event_id long, ts timestamp, user_id string, event_type string, value double"
    spark.createDataFrame(rows, schema).coalesce(2).write.mode(
        "overwrite"
    ).parquet(src)

    batch_out = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in windowed_event_counts(
            spark.read.parquet(src), "1 hour"
        ).collect()
    }

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        windowed_event_counts(stream, "1 hour")
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        stream_out = {
            (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
            for r in spark.sql("SELECT * FROM win_counts").collect()
        }
    finally:
        q.stop()
    assert stream_out == batch_out
    assert len(batch_out) > 0


def test_stateful_sessionization_matches_batch_rule(spark, tmp_path):
    """applyInPandasWithState sessionization equals the batch lag+gap rule."""
    from paas_auditor_spark.streaming.stateful import sessionize_stream

    src = str(tmp_path / "ssrc")
    # user 1: events 10 min apart (1 session); user 2: two bursts separated
    # by 2 hours (2 sessions)
    rows = []
    for i in range(4):
        rows.append((100 + i, BASE + dt.timedelta(minutes=10 * i), 1))
    for i in range(3):
        rows.append((200 + i, BASE + dt.timedelta(minutes=i), 2))
    for i in range(3):
        rows.append((300 + i, BASE + dt.timedelta(hours=2, minutes=i), 2))
    schema = "event_id long, ts timestamp, user_id long"
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        sessionize_stream(stream, gap_s=1800.0)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        # last emitted row per user is the current total
        out = {
            r["user_id"]: r["n_sessions"]
            for r in spark.sql(
                "SELECT user_id, n_sessions FROM sessions"
            ).collect()
        }
    finally:
        q.stop()
    assert out == {1: 1, 2: 2}


def test_stream_to_jdbc_store_dedups_and_upserts(spark, tmp_path):
    """North-star path end-to-end in streaming mode: file micro-batches →
    dedup → DbApiStore (partition-wise ON CONFLICT inserts into DuckDB).
    Overlapping guids across micro-batches land exactly once."""
    import duckdb

    from paas_auditor_spark.sinks.jdbc import dbapi_factory
    from paas_auditor_spark.stores import DbApiStore
    from paas_auditor_spark.streaming.metrics import MetricsRegistry
    from paas_auditor_spark.streaming.pipeline import stream_to_store

    src = str(tmp_path / "jsrc")
    ckpt = str(tmp_path / "jckpt")
    db = str(tmp_path / "jstore.duckdb")
    store = DbApiStore(spark, dbapi_factory("duckdb", db), write_partitions=1)
    metrics = MetricsRegistry()

    spark.createDataFrame(_rows([0, 1, 2]), schema=CF_AUDIT_EVENT).coalesce(
        1
    ).write.mode("overwrite").parquet(src)
    spark.createDataFrame(_rows([2, 3, 4]), schema=CF_AUDIT_EVENT).coalesce(
        1
    ).write.mode("append").parquet(src)

    q = stream_to_store(
        spark, src, store, ckpt, CF_AUDIT_EVENT,
        max_files_per_trigger=1, metrics=metrics,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    con = duckdb.connect(db)
    n, = con.execute("SELECT count(*) FROM cf_audit_events").fetchone()
    nd, = con.execute("SELECT count(DISTINCT guid) FROM cf_audit_events").fetchone()
    con.close()
    assert n == 5 and nd == 5
    assert metrics.get("cf_audit_event_collector_events_collected_total") == 5


def test_stream_stream_interval_join(spark, tmp_path):
    """Stream-stream inner join with event-time bounds: purchases join
    the click that preceded them within 10 minutes, both sides
    watermarked so join state is bounded (late rows beyond the watermark
    are dropped from state, not buffered forever)."""
    import datetime as dt

    from pyspark.sql import functions as F

    B = dt.datetime(2024, 3, 1, 12, 0, 0)
    cdir, bdir = str(tmp_path / "clicks"), str(tmp_path / "buys")
    schema = "user_id string, ts timestamp"
    spark.createDataFrame(
        [("u1", B), ("u2", B + dt.timedelta(minutes=1))], schema
    ).coalesce(1).write.mode("overwrite").parquet(cdir)
    spark.createDataFrame(
        [
            ("u1", B + dt.timedelta(minutes=5)),   # joins u1's click
            ("u2", B + dt.timedelta(minutes=20)),  # outside the window
            ("u3", B + dt.timedelta(minutes=2)),   # no click at all
        ],
        schema,
    ).coalesce(1).write.mode("overwrite").parquet(bdir)

    clicks = (
        spark.readStream.schema(schema).parquet(cdir)
        .withWatermark("ts", "10 seconds")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
    )
    buys = (
        spark.readStream.schema(schema).parquet(bdir)
        .withWatermark("ts", "10 seconds")
        .select(F.col("user_id").alias("b_user"), F.col("ts").alias("b_ts"))
    )
    joined = clicks.join(
        buys,
        F.expr(
            "c_user = b_user AND "
            "b_ts BETWEEN c_ts AND c_ts + interval 10 minutes"
        ),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT c_user, b_ts FROM ss_join").collect()
    finally:
        q.stop()
    assert len(rows) == 1
    assert rows[0]["c_user"] == "u1"
    assert rows[0]["b_ts"] == B + dt.timedelta(minutes=5)


def test_available_now_backfill_drains_then_stops(spark, tmp_path):
    """Backfill mode: availableNow processes the whole backlog through
    the same dedup sink (rate-limited into micro-batches), terminates on
    its own, and a SECOND run resumes from the checkpoint — ingesting
    only new files, never re-appending the old ones."""
    import datetime as dt

    src = str(tmp_path / "an_src")
    store = ParquetStore(spark, str(tmp_path / "an_wh"))
    ckpt = str(tmp_path / "an_ckpt")
    base = dt.datetime(2024, 1, 1)

    def mk(guid, minutes):
        return (
            guid, base + dt.timedelta(minutes=minutes), "audit.x",
            "a", "t", "n", "u", "ae", "at", "an", None, None, "{}",
        )

    rows1 = [mk(f"g{i}", i) for i in range(4)] + [mk("g1", 1)]  # dup
    spark.createDataFrame(rows1, CF_AUDIT_EVENT).coalesce(2).write.mode(
        "overwrite"
    ).parquet(src)

    q = stream_to_store(
        spark, src, store, ckpt, CF_AUDIT_EVENT,
        max_files_per_trigger=1, available_now=True,
    )
    q.awaitTermination(120)  # availableNow terminates by itself
    assert not q.isActive
    first = store.events_df()
    assert first.count() == 4  # dup dropped
    assert first.select("guid").distinct().count() == 4

    # second wave: one new file with one new + one already-seen guid
    spark.createDataFrame(
        [mk("g9", 9), mk("g2", 2)], CF_AUDIT_EVENT
    ).coalesce(1).write.mode("append").parquet(src)
    q2 = stream_to_store(
        spark, src, store, ckpt, CF_AUDIT_EVENT,
        max_files_per_trigger=1, available_now=True,
    )
    q2.awaitTermination(120)
    out = store.events_df()
    # 4 + g9: the windowed anti-join's store slice reaches back to the
    # new batch's min ts (minute 2), so the re-sent g2 dedups across runs
    assert out.count() == 5
    assert out.filter("guid = 'g9'").count() == 1
    assert out.filter("guid = 'g2'").count() == 1


def test_stream_static_broadcast_enrichment(spark, tmp_path):
    """Stream-static join: a streaming fact enriched against a static
    (broadcastable) dimension — the standard streaming enrichment shape;
    the static side is re-resolved per micro-batch, no state store."""
    import pyspark.sql.functions as F

    src = str(tmp_path / "ss_src")
    rows = [(1, 10, 5.0), (2, 11, 7.0), (3, 10, 1.0), (4, 99, 2.0)]
    spark.createDataFrame(
        rows, "event_id long, user_id long, value double"
    ).coalesce(1).write.mode("overwrite").parquet(src)
    dim = spark.createDataFrame(
        [(10, "gold"), (11, "silver")], "user_id long, tier string"
    )

    stream = spark.readStream.schema(
        "event_id long, user_id long, value double"
    ).parquet(src)
    enriched = stream.join(F.broadcast(dim), "user_id", "left").select(
        "event_id", F.coalesce("tier", F.lit("unknown")).alias("tier")
    )
    q = (
        enriched.writeStream.format("memory")
        .queryName("ss_enriched")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        out = {
            r["event_id"]: r["tier"]
            for r in spark.sql("SELECT * FROM ss_enriched").collect()
        }
    finally:
        q.stop()
    assert out == {1: "gold", 2: "silver", 3: "gold", 4: "unknown"}


def test_transform_with_state_running_totals(spark, tmp_path):
    """transformWithStateInPandas per-user running totals: cumulative
    across micro-batches, update-mode upsert semantics (latest emission
    per key equals the batch aggregate).  The state-server protocol
    needs protobuf, which this sandbox lacks - the test self-upgrades
    when google.protobuf appears (same pattern as the PIL decode)."""
    pytest.importorskip("google.protobuf")
    import pyspark.sql.functions as F

    from paas_auditor_spark.streaming.stateful import running_user_totals

    src = str(tmp_path / "tws_src")
    rows = [
        (i, BASE + dt.timedelta(minutes=i), i % 3, "click", float(i))
        for i in range(30)
    ]
    schema = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double"
    )
    spark.createDataFrame(rows, schema).repartition(3).write.mode(
        "overwrite"
    ).parquet(src)

    expected = {
        r["user_id"]: (r["n"], round(r["t"], 2))
        for r in spark.read.parquet(src)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("t"))
        .collect()
    }

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)  # several micro-batches
            .parquet(src)
        )
        q = (
            running_user_totals(stream)
            .writeStream.format("memory")
            .queryName("tws_totals")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "tws_ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            emitted = spark.sql("SELECT * FROM tws_totals").collect()
        finally:
            q.stop()
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

    assert len(emitted) > len(expected)
    latest = {}
    for r in emitted:
        cur = latest.get(r["user_id"])
        if cur is None or r["n_events"] > cur[0]:
            latest[r["user_id"]] = (r["n_events"], r["total_value"])
    assert latest == expected


def test_running_totals_processor_logic():
    """The processor's fold logic, exercised directly against a fake
    ValueState handle (the wire protocol needs protobuf; the LOGIC does
    not): cumulative across calls, NULL-value rows count but add 0."""
    import pandas as pd

    from paas_auditor_spark.streaming.stateful import RunningTotalsProcessor

    class FakeState:
        def __init__(self):
            self._v = None
        def exists(self):
            return self._v is not None
        def get(self):
            return self._v
        def update(self, v):
            self._v = v

    class FakeHandle:
        def __init__(self):
            self.state = FakeState()
            self.ttl = "unset"
        def getValueState(self, name, schema, ttlDurationMs=None):
            self.ttl = ttlDurationMs
            return self.state

    proc = RunningTotalsProcessor(ttl_ms=60_000)
    handle = FakeHandle()
    proc.init(handle)
    assert handle.ttl == 60_000  # TTL config reaches the state handle

    out1 = list(proc.handleInputRows(
        (7,), iter([pd.DataFrame({"value": [1.0, 2.0]}),
                    pd.DataFrame({"value": [3.0]})]), None))
    assert len(out1) == 1
    assert out1[0].iloc[0].to_dict() == {
        "user_id": 7, "n_events": 3, "total_value": 6.0}

    out2 = list(proc.handleInputRows(
        (7,), iter([pd.DataFrame({"value": [None, 4.0]})]), None))
    assert out2[0].iloc[0].to_dict() == {
        "user_id": 7, "n_events": 5, "total_value": 10.0}


def test_stream_stream_left_outer_join_emits_unmatched(spark, tmp_path):
    """Stream-stream LEFT OUTER with event-time bounds: matched rows emit
    immediately; unmatched left rows emit with NULL right side once the
    watermark passes their join window (the eviction-time NULL emission
    that distinguishes outer from inner state handling).  A second batch
    far in the future advances the watermark to flush them."""
    import datetime as dt

    from pyspark.sql import functions as F

    B = dt.datetime(2024, 3, 1, 12, 0, 0)
    cdir, bdir = str(tmp_path / "clicks"), str(tmp_path / "buys")
    schema = "user_id string, ts timestamp"
    spark.createDataFrame(
        [("u1", B), ("u2", B)], schema
    ).coalesce(1).write.mode("overwrite").parquet(cdir)
    spark.createDataFrame(
        [("u1", B + dt.timedelta(minutes=5))], schema
    ).coalesce(1).write.mode("overwrite").parquet(bdir)

    clicks = (
        spark.readStream.schema(schema).parquet(cdir)
        .withWatermark("ts", "10 seconds")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
    )
    buys = (
        spark.readStream.schema(schema).parquet(bdir)
        .withWatermark("ts", "10 seconds")
        .select(F.col("user_id").alias("b_user"), F.col("ts").alias("b_ts"))
    )
    joined = clicks.join(
        buys,
        F.expr(
            "c_user = b_user AND "
            "b_ts BETWEEN c_ts AND c_ts + interval 10 minutes"
        ),
        "leftOuter",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_left_join")
        .option("checkpointLocation", str(tmp_path / "ckpt_lo"))
        .start()
    )
    try:
        q.processAllAvailable()
        # u2 is still waiting in state: its join window hasn't closed
        partial = {
            r["c_user"]: r["b_user"]
            for r in spark.sql(
                "SELECT c_user, b_user FROM ss_left_join"
            ).collect()
        }
        assert partial.get("u1") == "u1"
        # advance the watermark far past u2's window on both sides
        late = B + dt.timedelta(hours=2)
        spark.createDataFrame(
            [("zz", late)], schema
        ).coalesce(1).write.mode("append").parquet(cdir)
        spark.createDataFrame(
            [("zz2", late)], schema
        ).coalesce(1).write.mode("append").parquet(bdir)
        q.processAllAvailable()
        rows = {
            r["c_user"]: r["b_user"]
            for r in spark.sql(
                "SELECT c_user, b_user FROM ss_left_join"
            ).collect()
            if r["c_user"] in ("u1", "u2")
        }
    finally:
        q.stop()
    assert rows == {"u1": "u1", "u2": None}
