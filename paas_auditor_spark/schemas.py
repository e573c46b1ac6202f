"""Canonical schemas for the engine.

Mirrors the reference's data model (SURVEY.md §1):

- ``CF_AUDIT_EVENT``: the event-table schema
  (reference pkg/db/sql/create_cf_audit_events.sql:1-32) — 12 scalar fields,
  event-time timestamp, raw-JSON metadata string.  The /v2/events envelope
  is decoded into these columns by ``sources.paginated_http``.

The driver's synthetic ``events`` table (TESTDATA.md / FIXTURES.md §B) is the
stand-in stream: event_id→guid, ts→created_at, user_id→actor,
event_type→event_type, props→metadata.
"""

from __future__ import annotations

from pyspark.sql import types as T

EPOCH = "1970-01-01 00:00:00"

# reference create_cf_audit_events.sql:1-17 (+ metadata at :32)
CF_AUDIT_EVENT = T.StructType(
    [
        T.StructField("guid", T.StringType(), False),
        T.StructField("created_at", T.TimestampType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("actor", T.StringType(), False),
        T.StructField("actor_type", T.StringType(), False),
        T.StructField("actor_name", T.StringType(), False),
        T.StructField("actor_username", T.StringType(), False),
        T.StructField("actee", T.StringType(), False),
        T.StructField("actee_type", T.StringType(), False),
        T.StructField("actee_name", T.StringType(), False),
        # '' <-> NULL at the I/O boundary (reference store.go:91,137-138)
        T.StructField("organization_guid", T.StringType(), True),
        T.StructField("space_guid", T.StringType(), True),
        # raw JSON string for byte-faithful round-trip (JSONB in reference)
        T.StructField("metadata", T.StringType(), True),
    ]
)

# driver synthetic events table (FIXTURES.md §B)
SYNTH_EVENT = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
