"""Event-time windowed aggregation with watermarking.

The reference needs no aggregation windows (SURVEY.md §2.7 — its only
event-time logic is the cursor watermark T2), but the engine exposes the
streaming aggregation surface as a first-class extra: tumbling/sliding
window counts over the event stream with a late-data watermark, the
standard Structured Streaming shape for the informer-style rollups a
large deployment would run continuously.

Scale notes: state is keyed by (window, event_type) — cardinality is
bounded by (#windows within watermark) × (#types), independent of input
volume; the watermark lets the state store evict closed windows, so the
query runs forever at constant memory.  The same function applied to a
batch DataFrame computes the identical result (used by the batch/oracle
tests — one definition, two execution modes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    slide_duration: str | None = None,
    watermark_delay: str = "5 seconds",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Tumbling (or sliding) per-type window aggregation.

    On a streaming DataFrame the watermark bounds state and drops events
    later than ``watermark_delay`` (the engine-wide late-data policy,
    mirroring the reference's 5s overlap tolerance T2); on a batch
    DataFrame the watermark is a no-op and the result is exact.
    """
    if events.isStreaming:
        events = events.withWatermark(ts_col, watermark_delay)
    win = (
        F.window(ts_col, window_duration, slide_duration)
        if slide_duration
        else F.window(ts_col, window_duration)
    )
    return (
        events.groupBy(win.alias("win"), F.col(type_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 2).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            type_col,
            "n_events",
            "total_value",
        )
    )


__all__ = ["windowed_event_counts"]
