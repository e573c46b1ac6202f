"""``python -m paas_auditor_spark`` — run the service against a real
Cloud Foundry API + Splunk HEC, configured via the reference's env vars
(main_config.go:15-108: CF_API_ADDRESS, SPLUNK_HEC_ENDPOINT_URL,
SPLUNK_HEC_AUTH_TOKEN, *_SCHEDULE, FETCHER_PAGINATION_WAIT_TIME).

The CF transport for both collector modes is
``sources.paginated_http.resolve_transport`` (re-exported here); the
Splunk sender is ``streaming.ship.hec_sender``.  Every piece is the same
injectable the test fakes use.  The process exits 1 when the collector
fails.
"""

from __future__ import annotations

import os
import signal
import sys

from paas_auditor_spark.config import EngineConfig
from paas_auditor_spark.runner import Service
from paas_auditor_spark.session import get_spark
from paas_auditor_spark.sources.paginated_http import (
    CF_AUTH_ENV,
    resolve_transport,
)
from paas_auditor_spark.streaming.ship import hec_sender


def stream_source_options(environ, cfg: EngineConfig) -> dict:
    """``cf_events`` options for streaming mode: the CF credentials that
    are set (the source resolves them like loop mode's
    ``resolve_transport``) and the loop's page pacing."""
    options: dict = {k: environ[k] for k in CF_AUTH_ENV if environ.get(k)}
    options["wait_s"] = cfg.pagination_wait_s
    return options


def resolve_sender(environ):
    """Shipper creds gate (reference main.go:110-121): runs only with full
    Splunk creds.  ``SPLUNK_API_KEY`` is the reference's env name
    (main_config.go:61); ``SPLUNK_HEC_AUTH_TOKEN`` the engine's historical
    alias."""
    splunk_url = environ.get("SPLUNK_HEC_ENDPOINT_URL", "")
    splunk_key = environ.get("SPLUNK_API_KEY") or environ.get(
        "SPLUNK_HEC_AUTH_TOKEN", ""
    )
    if splunk_url and splunk_key:
        return hec_sender(splunk_url, splunk_key)
    return None


def main() -> int:
    cfg = EngineConfig()
    spark = get_spark(app_name="paas-auditor-spark")
    base_url = os.environ.get("CF_API_ADDRESS", "http://cc.example.invalid")
    transport = resolve_transport(os.environ, base_url)
    sender = resolve_sender(os.environ)

    # persistence backend: parquet warehouse by default; ENGINE_STORE=jdbc
    # selects the reference-shaped relational store over DATABASE_URL
    # (main_config.go:39; DB-API driver: psycopg2 for postgres:// URLs,
    # duckdb for file paths — both behind import-try)
    store = None
    if os.environ.get("ENGINE_STORE", "").lower() == "jdbc":
        from paas_auditor_spark.stores import DbApiStore, dbapi_factory

        db_url = os.environ.get("DATABASE_URL", "postgres://localhost:5432/")
        if db_url.startswith(("postgres://", "postgresql://")):
            store = DbApiStore(
                dbapi_factory("psycopg2", db_url), paramstyle="pyformat"
            )
        else:
            store = DbApiStore(dbapi_factory("duckdb", db_url))

    service = Service(
        spark,
        warehouse_dir=os.environ.get("ENGINE_WAREHOUSE", "./warehouse"),
        transport=transport,
        sender=sender,
        cfg=cfg,
        base_url=base_url,
        store=store,
    )
    # reference default listen port 9299 (main_config.go:63)
    server = service.serve_metrics(int(os.environ.get("PORT", "9299")))
    for sig in (signal.SIGINT, signal.SIGTERM):  # T7 graceful shutdown
        signal.signal(sig, lambda *_: service.stop())

    # ENGINE_MODE=streaming replaces the scheduled collector loop with the
    # fully native Structured Streaming pipeline (readStream cf_events →
    # store; streaming/pipeline.py::stream_api_to_store): offsets
    # checkpoint the watermark, the store's idempotence absorbs overlap
    # re-reads.  The source fetches with the same CF client, credentials
    # and page pacing as loop mode.  Shipper + informer loops run
    # unchanged beside it.
    collector_query = None
    if os.environ.get("ENGINE_MODE", "").lower() == "streaming":
        from paas_auditor_spark.streaming.pipeline import stream_api_to_store

        collector_query = stream_api_to_store(
            spark,
            base_url,
            service.store,
            os.environ.get("ENGINE_CHECKPOINT", "./checkpoint/collector"),
            trigger_processing_time=os.environ.get(
                "COLLECTOR_TRIGGER", "120 seconds"
            ),
            metrics=service.metrics,
            extra_options=stream_source_options(os.environ, cfg),
        )
        threads = service.run_threaded(loops=("shipper", "informer"))
    else:
        threads = service.run_threaded()
    try:
        for t in threads:
            t.join()
    finally:
        if collector_query is not None:
            collector_query.stop()
        server.shutdown()
    # a failed collector stopped the service: exit non-zero, like the
    # reference's os.Exit(1) (main.go:92-97)
    return 1 if service.collector_error is not None else 0


if __name__ == "__main__":
    sys.exit(main())
