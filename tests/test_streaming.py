"""Structured Streaming ingest: micro-batch file source → dedup → store
(T1/T3/T5/T7 semantics through the real streaming engine)."""

from __future__ import annotations

import datetime as dt
import uuid

from paas_auditor_spark.schemas import CF_AUDIT_EVENT
from paas_auditor_spark.stores import ParquetStore
from paas_auditor_spark.streaming.pipeline import store_sink

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


def _stream_files_to_store(spark, src, store, ckpt, metrics=None):
    """Parquet files → ``store_sink``, one file per micro-batch."""
    return (
        spark.readStream.schema(CF_AUDIT_EVENT)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(store_sink(store, metrics))
        .option("checkpointLocation", ckpt)
        .start()
    )


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

    q = _stream_files_to_store(spark, src, store, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()  # graceful shutdown (T7)

    out = spark.read.parquet(store.events_dir)
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


def test_stream_to_jdbc_store_dedups_and_upserts(spark, tmp_path):
    """North-star path end-to-end in streaming mode: file micro-batches →
    dedup → DbApiStore (ON CONFLICT inserts into DuckDB).
    Overlapping guids across micro-batches land exactly once."""
    import duckdb

    from paas_auditor_spark.stores import DbApiStore, dbapi_factory
    from paas_auditor_spark.streaming.metrics import MetricsRegistry
    from paas_auditor_spark.streaming.pipeline import store_sink

    src = str(tmp_path / "jsrc")
    ckpt = str(tmp_path / "jckpt")
    db = str(tmp_path / "jstore.duckdb")
    store = DbApiStore(dbapi_factory("duckdb", db))
    metrics = MetricsRegistry()

    spark.createDataFrame(_rows([0, 1, 2]), schema=CF_AUDIT_EVENT).coalesce(
        1
    ).write.mode("overwrite").parquet(src)
    spark.createDataFrame(_rows([2, 3, 4]), schema=CF_AUDIT_EVENT).coalesce(
        1
    ).write.mode("append").parquet(src)

    q = _stream_files_to_store(spark, src, store, ckpt, metrics)
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
