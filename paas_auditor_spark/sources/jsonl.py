"""JSON-lines envelope source — the dump/replay path for the CF events
envelope (S4 widened to files).

Operators sometimes need to re-ingest from exported API responses instead
of the live endpoint (backfill after an incident, environment cloning,
audit replay).  This source reads files where each LINE is one
``/v2/events`` page payload — exactly the bytes the paginated HTTP
transport would have returned (reference envelope:
cf_audit_event_fetcher.go:22-35) — and feeds them through the SAME
``normalize_envelope`` decode as the live path, so replayed rows are
byte-for-byte what the collector would have stored.

Scale shape: ``spark.read.text`` splits across files/blocks, the JSON
decode + explode runs JVM-side per partition, and downstream dedup (W1/
T3) makes replays idempotent against history.  The streaming variant is
the same plan over ``readStream`` with file-count rate limiting (S3) —
drop an exported dump into the directory and the collector choreography
ingests it at bounded pace.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paas_auditor_spark.operators.ingest import normalize_envelope
from paas_auditor_spark.schemas import EVENTS_ENVELOPE


def read_envelope_jsonl(
    spark: SparkSession, path: str, with_quarantine: bool = False
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Batch replay: every line of every file is one page envelope.

    ``with_quarantine=True`` additionally returns the lines the envelope
    decode rejects (malformed JSON / missing ``resources``) instead of
    dropping them silently — the same keep-the-rejects-addressable policy
    as the P8 validity quarantine; a backfill that loses lines must say
    so."""
    raw = spark.read.text(path)
    events = normalize_envelope(raw, payload_col="value")
    if not with_quarantine:
        return events
    parsed = raw.select(
        "value", F.from_json("value", EVENTS_ENVELOPE).alias("env")
    )
    bad = parsed.filter(
        F.col("env").isNull() | F.col("env.resources").isNull()
    ).select("value")
    return events, bad


def stream_envelope_jsonl(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Streaming replay: unbounded DataFrame of decoded events; pair with
    ``streaming.pipeline.store_sink`` (foreachBatch) for the sink."""
    raw = (
        spark.readStream.option("maxFilesPerTrigger", max_files_per_trigger)
        .text(path)
    )
    return normalize_envelope(raw, payload_col="value")


__all__ = ["read_envelope_jsonl", "stream_envelope_jsonl"]
