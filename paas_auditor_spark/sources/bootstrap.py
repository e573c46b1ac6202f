"""Warehouse bootstrap — the engine's analog of the reference's idempotent
startup DDL (W5: pkg/db/store.go:55-71,331-368 applying
create_cf_audit_events.sql / create_shipper_cursors.sql in a transaction).

Spark has no CREATE TABLE transaction over parquet directories; idempotent
init here means: if the table directory does not exist, write an empty
parquet dataset with the pinned schema, so every later reader/writer sees
the canonical column set and types from the first run on.  Re-running is a
no-op (the reference's ``IF NOT EXISTS`` semantics).  On Delta/Iceberg
deployments this module is replaced by ``CREATE TABLE IF NOT EXISTS``
against the catalog — the call sites don't change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from paas_auditor_spark.schemas import CF_AUDIT_EVENT

EVENTS_TABLE = "cf_audit_events"


def init_warehouse(spark: SparkSession, warehouse_dir: str) -> dict[str, str]:
    """Apply the startup DDL (reference store.go:55-71): the events table
    exists with its pinned schema afterwards, as an empty parquet dataset
    if it was absent.  The shipper cursors are not a table here: the
    store keeps them in one JSON file (``stores.ParquetStore``)."""
    path = os.path.join(warehouse_dir, EVENTS_TABLE)
    if not os.path.exists(path):
        spark.createDataFrame([], CF_AUDIT_EVENT).write.mode("ignore").parquet(
            path
        )
    return {EVENTS_TABLE: path}


__all__ = ["EVENTS_TABLE", "init_warehouse"]
