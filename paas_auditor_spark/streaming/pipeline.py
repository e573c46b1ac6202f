"""Micro-batch ingest pipeline: Structured Streaming dress around the one
ingest step.

The collector's work (T1/T2/T3 in SURVEY.md §2.7, reference
pkg/collectors/cf_audit_event_collector.go:30-104) is

    watermark = max(created_at) − 5s  (epoch when empty)
    pages     = paginated fetch since watermark
    stored   += ingest_delta(batch, store)   # validate, guid dedup, append

``runner.Service.collector_tick`` runs it as a scheduled loop tick.  Here
the same ``operators.ingest.ingest_delta`` runs as a ``foreachBatch`` sink
(``store_sink``) under two streaming sources: rate-limited parquet files
(``stream_to_store``, maxFilesPerTrigger — the reference's page pacing
analog, S3/T5) and the CF API itself (``stream_api_to_store``, whose
``cf_events`` source fetches with the loop's CF client,
``sources/paginated_http.py``).  Deduplication is the store anti-join in
``ingest_delta`` in every mode; there is no separate streaming dedup
state.  Sink errors fail the query — the collector's fail-fast policy
(T8).
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

from paas_auditor_spark.operators.ingest import ingest_delta
from paas_auditor_spark.streaming.metrics import MetricsRegistry


def informer_tick(
    target_df: DataFrame,
    metrics: MetricsRegistry,
    parquet_path: str | None = None,
    ts_col: str = "created_at",
) -> None:
    """Informer tick (reference pkg/informer/informer.go:26-54): count +
    latest-timestamp gauges.  With a parquet path the count is the
    metadata-only approximation (A2, like pg_class.reltuples)."""
    from paas_auditor_spark.operators.stats import approx_count, latest_event_time

    if parquet_path is not None:
        n = approx_count(parquet_path)
    else:
        n = target_df.count()
    metrics.set("informer_cf_audit_events_total", float(n))
    from paas_auditor_spark.functions.timecross import epoch_utc

    metrics.set(
        "informer_latest_cf_audit_event_timestamp",
        epoch_utc(latest_event_time(target_df, ts_col)),
    )


def stream_to_store(
    spark: SparkSession,
    source_dir: str,
    store,
    checkpoint_dir: str,
    schema,
    max_files_per_trigger: int = 1,
    trigger_processing_time: str | None = None,
    available_now: bool = False,
    metrics: MetricsRegistry | None = None,
):
    """Structured Streaming ingest from parquet files into any engine store
    — the north-star "Structured Streaming from CF events → JDBC sink to
    Postgres" wired end-to-end.

    Rate-limited file micro-batches (maxFilesPerTrigger) go through
    ``store_sink``.  With ``stores.DbApiStore`` every batch lands through
    partition-wise ``INSERT … ON CONFLICT DO NOTHING`` (W1), so the
    database enforces exactly the idempotence the anti-join pre-filters —
    a retried/replayed micro-batch (Spark's at-least-once foreachBatch
    contract) is harmless twice over (T3).

    ``available_now=True`` runs the backfill mode: process everything
    already in the source (still rate-limited into micro-batches), then
    stop — the catch-up-after-downtime semantics of the reference's first
    collector tick, with the stream's checkpoint carrying the position
    forward into the next run.  Returns the StreamingQuery; the caller
    stops it (T7 graceful shutdown).
    """
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    writer = stream.writeStream.foreachBatch(
        store_sink(store, metrics)
    ).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_processing_time:
        writer = writer.trigger(processingTime=trigger_processing_time)
    return writer.start()


def store_sink(store, metrics: MetricsRegistry | None = None):
    """foreachBatch sink into a pluggable store: ``ingest_delta`` per
    micro-batch."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        ingest_delta(batch_df, store, metrics)

    return sink


def stream_api_to_store(
    spark: SparkSession,
    base_url: str,
    store,
    checkpoint_dir: str,
    since: str | None = None,
    page_size: int = 100,
    overlap_s: float = 5.0,
    trigger_processing_time: str | None = None,
    metrics: MetricsRegistry | None = None,
    extra_options: dict | None = None,
):
    """The north-star pipeline fully native: ``spark.readStream.format
    ("cf_events")`` (watermark-offset micro-batches straight off the CF
    API — sources/datasource.py) → ``store_sink``, i.e. ``ingest_delta``
    into a pluggable store (parquet warehouse or DB-API ON CONFLICT).
    The reference's collector loop (fetch → dedup → insert,
    cf_audit_event_collector.go:30-70) as one Structured Streaming query:
    offsets checkpoint the watermark, retries replay micro-batches, and
    the store's idempotence absorbs the at-least-once edges (T2/T3/W1).
    ``extra_options`` go to the source as-is: credentials under the CLI's
    ``CF_*`` names and ``wait_s`` page pacing (sources/datasource.py)."""
    from paas_auditor_spark.sources.datasource import CfEventsDataSource

    spark.dataSource.register(CfEventsDataSource)
    reader = (
        spark.readStream.format("cf_events")
        .option("base_url", base_url)
        .option("page_size", page_size)
        .option("overlap_s", overlap_s)
    )
    if since:
        reader = reader.option("since", since)
    for k, v in (extra_options or {}).items():
        reader = reader.option(k, v)
    writer = (
        reader.load()
        .writeStream.foreachBatch(store_sink(store, metrics=metrics))
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_processing_time:
        writer = writer.trigger(processingTime=trigger_processing_time)
    return writer.start()


def scheduler_loop(
    tick: Callable[[], None],
    interval_s: float,
    should_stop: Callable[[], bool],
    on_error: str = "raise",
    sleep: Callable[[float], None] = time.sleep,
    on_exception: Callable[[Exception], None] | None = None,
) -> Iterator[None]:
    """The reference's loop shape (time.After + ctx.Done, T1/T7/T8) as a
    generator: ``on_error='raise'`` = collector fail-fast policy,
    ``'continue'`` = shipper log-and-continue policy.  ``on_exception``
    observes the error either way (the reference logs before both exit
    and continue — main.go:92-97, shipper.go:111-115)."""
    while not should_stop():
        try:
            tick()
        except Exception as ex:
            if on_exception is not None:
                on_exception(ex)
            if on_error == "raise":
                raise
        yield
        sleep(interval_s)


__all__ = [
    "informer_tick",
    "scheduler_loop",
    "store_sink",
    "stream_api_to_store",
    "stream_to_store",
]
