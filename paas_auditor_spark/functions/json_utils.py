"""JSON / envelope column helpers.

Covers the reference's scalar JSON surface (SURVEY.md §2.2):
- P9  time formatting to RFC3339 Z strings
  (reference cf_audit_event_fetcher.go:26)
- P10 RFC3339 parse to epoch seconds
  (reference cf_audit_events_to_splunk_shipper.go:158-169)
- P11/P13 Splunk HEC envelope serialization
  (reference cf_audit_events_to_splunk_shipper.go:24-28,187-192)
- P12 metadata JSON access (reference store.go:171-176)

The ship envelope serializes the scalar event fields with
``to_json(struct(...))`` — compact, struct-ordered, string-escaped JSON,
exactly the layout Go's ``json.Marshal`` emits for the ``cfclient.Event``
struct — and splices the raw ``metadata`` JSON string in unmodified, the
same byte-faithful JSONB round-trip the reference does
(store.go:82,171-176: metadata is stored and re-emitted as raw JSON).
Everything is a JVM column expression, for the registry queries
(``splunk_envelope``).  The service's shipper builds the same envelope
on the driver from the store's rows (``streaming.ship.hec_envelope``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

RFC3339 = "yyyy-MM-dd'T'HH:mm:ss'Z'"


def rfc3339(ts: Column) -> Column:
    """Format a timestamp as the reference's API query format (P9)."""
    return F.date_format(ts, RFC3339)


def epoch_seconds(ts: Column) -> Column:
    """Whole epoch seconds from a timestamp (P10)."""
    return F.unix_timestamp(ts).cast("long")


def json_field(json_str: Column, field: str) -> Column:
    """Extract one field from a raw-JSON string column (P12)."""
    return F.get_json_object(json_str, f"$.{field}")


def event_json(
    guid: Column,
    created_at: Column,
    event_type: Column,
    actor: Column,
    actor_type: Column,
    actor_name: Column,
    actor_username: Column,
    actee: Column,
    actee_type: Column,
    actee_name: Column,
    organization_guid: Column | None = None,
    space_guid: Column | None = None,
    metadata: Column | None = None,
) -> Column:
    """Serialize the full 13-field ``cfclient.Event`` as compact JSON.

    Field order and names mirror the Go struct tags
    (vendor/.../go-cfclient/events.go:26-41), which is the order
    ``json.Marshal`` emits: guid, type, created_at, actor, actor_type,
    actor_name, actor_username, actee, actee_type, actee_name,
    organization_guid, space_guid, metadata.

    - ``created_at`` is the RFC3339 string (the struct field is a string
      the reference never re-parses for shipping — events.go:28).
    - ``organization_guid``/``space_guid`` NULL→'' (the read-side
      ``coalesce(...::text,'')``, store.go:219-220).
    - ``metadata`` is a raw JSON string spliced in verbatim (JSONB
      round-trip); NULL → JSON ``null`` (store.go:251-256: metadata is
      only unmarshalled when non-empty, a nil map marshals to ``null``).
    """
    empty = F.lit("")

    def _s(col):
        # Go string struct fields are never nil — a NULL column must emit
        # "" rather than letting to_json DROP the key entirely
        # (spark.sql.jsonGenerator.ignoreNullFields defaults to true).
        return F.coalesce(col.cast("string"), empty)

    scalars = F.to_json(
        F.struct(
            _s(guid).alias("guid"),
            _s(event_type).alias("type"),
            F.coalesce(rfc3339(created_at), empty).alias("created_at"),
            _s(actor).alias("actor"),
            _s(actor_type).alias("actor_type"),
            _s(actor_name).alias("actor_name"),
            _s(actor_username).alias("actor_username"),
            _s(actee).alias("actee"),
            _s(actee_type).alias("actee_type"),
            _s(actee_name).alias("actee_name"),
            F.coalesce(
                (organization_guid if organization_guid is not None else empty)
                .cast("string"),
                empty,
            ).alias("organization_guid"),
            F.coalesce(
                (space_guid if space_guid is not None else empty).cast("string"),
                empty,
            ).alias("space_guid"),
        )
    )
    # splice raw metadata before the object's closing brace: to_json output
    # always ends in '}', so drop the last byte and append the dynamic tail
    return F.concat(
        F.substring(scalars, F.lit(1), F.length(scalars) - F.lit(1)),
        F.lit(',"metadata":'),
        F.coalesce(metadata, F.lit("null"))
        if metadata is not None
        else F.lit("null"),
        F.lit("}"),
    )


def splunk_envelope(
    event: Column,
    source_env: str,
    sourcetype: str = "cf-audit-event",
) -> Column:
    """Wrap a serialized event as the Splunk HEC payload (P11 + P13).

    Reference shape (cf_audit_events_to_splunk_shipper.go:24-28,187-192):
    ``{"sourcetype": ..., "source": <deploy_env>, "event": <full event>}``.
    ``event`` is the raw-JSON event column (see :func:`event_json`).
    """
    return F.concat(
        F.lit('{"sourcetype":"' + sourcetype + '","source":"' + source_env + '"'),
        F.lit(',"event":'),
        event,
        F.lit("}"),
    )


__all__ = [
    "RFC3339",
    "epoch_seconds",
    "event_json",
    "json_field",
    "rfc3339",
    "splunk_envelope",
]
