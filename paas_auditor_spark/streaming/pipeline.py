"""Micro-batch ingest pipeline: Structured Streaming dress around the one
ingest step.

The collector's work (T1/T2/T3 in SURVEY.md §2.7, reference
pkg/collectors/cf_audit_event_collector.go:30-104) is

    watermark = max(created_at) − 5s  (epoch when empty)
    pages     = paginated fetch since watermark
    stored   += ingest_delta(rows, store)   # validate, guid dedup, append

``runner.Service.collector_tick`` runs it as a scheduled loop tick over
the decoded tuples.  Here the same ``operators.ingest.ingest_delta`` runs
as a ``foreachBatch`` sink (``store_sink``) under the CF API streaming
source (``stream_api_to_store``, whose ``cf_events`` source fetches with
the loop's CF client, ``sources/paginated_http.py``): the sink collects
the micro-batch to the driver as tuples and hands them over, so the
collect is its only Spark job; the store writes the fresh rows on the
driver.  Deduplication is the store anti-join in
``ingest_delta`` in both modes; there is no separate streaming dedup
state.  Sink errors fail the query — the collector's fail-fast policy
(T8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from paas_auditor_spark.operators.ingest import ingest_delta
from paas_auditor_spark.sources.paginated_http import EVENT_ROWS, PAGE_SIZE
from paas_auditor_spark.streaming.metrics import MetricsRegistry


def store_sink(store, metrics: MetricsRegistry | None = None):
    """foreachBatch sink into a pluggable store: ``ingest_delta`` per
    micro-batch, over the batch collected as ``EVENT_ROWS`` tuples.

    The batch is collected with ``toArrow`` (one Spark job), where
    ``created_at`` is ``timestamp[us, tz=UTC]`` whatever the session
    timezone: ``to_pylist`` turns it into the aware UTC datetimes
    ``ingest_delta`` takes, and each string column becomes ``str``/``None``
    values in one numpy conversion."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        table = batch_df.select(*EVENT_ROWS.names).toArrow()
        columns = [
            col.to_pylist()
            if name == "created_at"
            else col.to_numpy(zero_copy_only=False)
            for name, col in zip(table.column_names, table.columns)
        ]
        ingest_delta(list(zip(*columns)), store, metrics)

    return sink


def stream_api_to_store(
    spark: SparkSession,
    base_url: str,
    store,
    checkpoint_dir: str,
    since: str | None = None,
    page_size: int = PAGE_SIZE,
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


__all__ = [
    "store_sink",
    "stream_api_to_store",
]
