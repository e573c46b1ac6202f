"""Service runner: the reference's process wiring (main.go:24-135) as a
composable object.

main.go wires: config → DB init → three independent loops (collector 2m,
shipper 15s, informer 15s) → HTTP server with /metrics + /health →
SIGINT/SIGTERM graceful shutdown → collector error exits the process,
shipper error logs and continues.  ``Service`` reproduces that contract on
the Spark engine:

- warehouse init (W5, sources.bootstrap.init_warehouse)
- collector tick: watermark fetch → ``operators.ingest.ingest_delta``
  over the decoded tuples (validate → dedup → anti-join on the driver →
  append of the fresh tuples: one pyarrow file on parquet, one
  transaction on a DB-API store — never a rewrite of history, never a
  second copy of a stored event); no Spark job on either store
- shipper tick: ``streaming.ship.ship_tick`` — cursor query (rows read
  on the driver: no Spark job) → envelopes built in Python → ordered
  NDJSON batches with retries → a cursor commit after every acknowledged
  batch (on parquet an atomic replace of one JSON file, the stand-in for
  W2's upsert)
- informer tick: count + latest-timestamp gauges from the store's stats
  (on parquet the events stats log: no Spark job)
- /metrics (Prometheus text) and /health endpoints on a ThreadingHTTPServer
- error policies per loop (T8): a collector error raises out of
  ``run_loops`` and stops every ``run_threaded`` loop — the process-exit
  analog, also when the collector is a streaming query
  (``await_collector``); shipper/informer errors are logged and the loop
  continues
"""

from __future__ import annotations

import datetime as dt
import http.server
import threading
import time
from dataclasses import dataclass

from pyspark.errors import StreamingQueryException
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from paas_auditor_spark.config import EngineConfig
from paas_auditor_spark.logs import JsonLogger
from paas_auditor_spark.operators.ingest import ingest_delta
from paas_auditor_spark.sources.paginated_http import (
    Transport,
    decode_pages,
    fetch_event_pages,
    watermark,
)
from paas_auditor_spark.stores import ParquetStore
from paas_auditor_spark.streaming.metrics import MetricsRegistry
from paas_auditor_spark.streaming.ship import Sender, ship_tick

SHIPPER_NAME = "cf-audit-events-to-splunk"
# ship_tick's count of acknowledged events for SHIPPER_NAME
SHIPPED_TOTAL = "cf_audit_events_to_splunk_shipper_events_shipped_total"


@dataclass
class TickCounts:
    collected: int = 0
    shipped: int = 0


class Service:
    """One engine process: warehouse + three ticks + metrics."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse_dir: str | None = None,
        transport: Transport | None = None,
        sender: Sender | None = None,
        cfg: EngineConfig | None = None,
        base_url: str = "http://cc.example.invalid",
        store=None,
        logger: JsonLogger | None = None,
    ) -> None:
        """``sender=None`` means Splunk creds are absent: the shipper loop
        is never started (reference main.go:110-121 gates the shipper on
        ``SplunkAPIKey != "" && SplunkURL != ""``); collector + informer
        run regardless.

        ``store`` selects the persistence backend (``stores.ParquetStore``
        default, ``stores.DbApiStore`` for the reference's
        Postgres-shaped deployment); ``warehouse_dir`` is the parquet
        default's location.
        """
        self.spark = spark
        self.cfg = cfg or EngineConfig()
        self.transport = transport
        self.sender = sender
        self.base_url = base_url
        self.metrics = MetricsRegistry()
        if store is None and warehouse_dir is None:
            raise ValueError(
                "Service needs a store: pass store=... or warehouse_dir=..."
            )
        self.store = store or ParquetStore(spark, warehouse_dir)  # W5
        self.paths = getattr(self.store, "paths", {})
        self.totals = TickCounts()
        self._stop = threading.Event()
        # lager parity (main.go:59,66,71): one root logger, one session per
        # loop, JSON lines to stdout, LOG_LEVEL=debug switch
        self.logger = logger or JsonLogger()
        self._loop_logs = {
            self.collector_tick: self.logger.session("collector"),
            self.shipper_tick: self.logger.session("shipper"),
            self.informer_tick: self.logger.session("informer"),
        }
        # set when the threaded collector fails: the service stops and
        # ``python -m paas_auditor_spark`` exits 1 (main.go:92-97)
        self.collector_error: Exception | None = None

    # -- ticks ------------------------------------------------------------

    def _watermark(self) -> dt.datetime:
        """max(created_at) − overlap over the store (T2, reference
        cf_audit_event_collector.go:36,92-104)."""
        return watermark(
            self.store.latest_event_time(), self.cfg.watermark_overlap_s
        )

    def collector_tick(self) -> int:
        """Fetch since the watermark and store ONLY the fresh delta."""
        if self.transport is None:  # no API wiring: collector disabled,
            return 0  # same creds-gating posture as the shipper
        t0 = time.perf_counter()
        watermark = self._watermark()
        pages = list(
            fetch_event_pages(
                self.transport,
                self.base_url,
                watermark,
                self.cfg.page_size,
                self.cfg.pagination_wait_s,
            )
        )
        n = ingest_delta(list(decode_pages(pages)), self.store, self.metrics)
        self.metrics.inc(
            "cf_audit_event_collector_collect_duration_total",
            time.perf_counter() - t0,
        )
        self.totals.collected += n
        self._loop_logs[self.collector_tick].info(
            "collected", {"events": n, "watermark": watermark.isoformat()}
        )
        return n

    def shipper_tick(self) -> int:
        if self.sender is None:  # creds absent: shipper disabled
            return 0
        # counted by ship_tick's per-batch counter, so a cursor commit that
        # raises after HEC acknowledged batches still counts them; the
        # error then reaches the loop's error path
        before = self.metrics.get(SHIPPED_TOTAL)
        try:
            ship_tick(
                self.store,
                self.sender,
                SHIPPER_NAME,
                self.cfg.deploy_env,
                self.cfg.ship_batch_cap,
                metrics=self.metrics,
                logger=self._loop_logs[self.shipper_tick],
            )
        finally:
            shipped = int(self.metrics.get(SHIPPED_TOTAL) - before)
            self.totals.shipped += shipped
            self._loop_logs[self.shipper_tick].info(
                "shipped", {"events": shipped}
            )
        return shipped

    def informer_tick(self) -> None:
        """Reference pkg/informer/informer.go:26-54: dataset-size +
        latest-timestamp gauges."""
        self.metrics.set(
            "informer_cf_audit_events_total", float(self.store.event_count())
        )
        from paas_auditor_spark.functions.timecross import epoch_utc

        self.metrics.set(
            "informer_latest_cf_audit_event_timestamp",
            epoch_utc(self.store.latest_event_time()),
        )

    # -- loops / service --------------------------------------------------

    def stop(self) -> None:  # T7
        self._stop.set()

    def _tick_failed(self, tick, ex: Exception) -> None:
        """Error path shared by both loop drivers: log the failure in the
        loop's session and count collector failures in the reference's
        ``cf_audit_event_collector_errors_total``."""
        if tick == self.collector_tick:
            self.metrics.inc("cf_audit_event_collector_errors_total")
        self._loop_logs[tick].error("tick.failed", ex)

    def run_loops(self, max_ticks: int | None = None) -> None:
        """Drive all three loops round-robin in tick order (deterministic
        single-threaded form — tests and batch backfills; a deployment
        runs each loop in its own thread at its own cadence with the same
        tick callables)."""
        ticks = 0
        while not self._stop.is_set():
            try:
                self.collector_tick()
            except Exception as ex:
                # fail-fast policy, but LOGGED before propagating, like the
                # reference's logger.Error + os.Exit(1) (main.go:92-97)
                self._tick_failed(self.collector_tick, ex)
                raise
            for tick in (self.shipper_tick, self.informer_tick):
                try:
                    tick()
                except Exception as ex:  # shipper policy: log and continue
                    # (shipper.go:111-115 logs the error, next tick retries)
                    self._tick_failed(tick, ex)
            ticks += 1
            if max_ticks is not None and ticks >= max_ticks:
                break

    def _collector_failed(self, ex: Exception) -> None:
        """The threaded collector's fail-fast path: the reference exits the
        process (main.go:92-97), so the whole service stops and records
        the failure instead of running on without a collector."""
        self._tick_failed(self.collector_tick, ex)
        self.collector_error = ex
        self.stop()

    def await_collector(self, query: StreamingQuery) -> None:
        """Block while the streaming collector ``query`` runs and the
        service has not been stopped.  A failed query takes the threaded
        collector's fail-fast path; any end of the query stops the
        service, whose shipper and informer have nothing left to serve."""
        try:
            while not self._stop.is_set() and not query.awaitTermination(1):
                pass
        except StreamingQueryException as ex:
            self._collector_failed(ex)
        self.stop()

    def run_threaded(
        self, loops: tuple[str, ...] = ("collector", "shipper", "informer")
    ) -> list[threading.Thread]:
        """Reference deployment shape: three daemon loops on their own
        cadences (T1), stopped via ``stop()`` (T7), which also ends a
        loop's wait between ticks.  ``loops`` selects a subset — the
        streaming deployment replaces the collector loop with a Structured
        Streaming query and runs only shipper+informer here.  A collector
        error stops every loop; shipper and informer errors are logged
        and the loop continues (shipper.go:111-115)."""
        specs = []
        if "collector" in loops:
            specs.append(
                (
                    self.collector_tick,
                    self.cfg.collector_schedule_s,
                    self._collector_failed,
                )
            )
        if self.sender is not None and "shipper" in loops:
            # main.go:110-121 creds gate
            specs.append(
                (
                    self.shipper_tick,
                    self.cfg.shipper_schedule_s,
                    lambda ex: self._tick_failed(self.shipper_tick, ex),
                )
            )
        if "informer" in loops:
            specs.append(
                (
                    self.informer_tick,
                    self.cfg.informer_schedule_s,
                    lambda ex: self._tick_failed(self.informer_tick, ex),
                )
            )

        def loop(tick, interval_s: float, on_exception) -> None:
            # the reference's loop shape: time.After + ctx.Done (T1/T7/T8)
            while not self._stop.is_set():
                try:
                    tick()
                except Exception as ex:
                    on_exception(ex)
                self._stop.wait(interval_s)

        threads = [
            threading.Thread(target=loop, args=spec, daemon=True)
            for spec in specs
        ]
        for t in threads:
            t.start()
        return threads

    def serve_metrics(self, port: int = 0) -> http.server.ThreadingHTTPServer:
        """/metrics + /health endpoints (reference main.go:75-86).  Returns
        the bound server (``server.server_address[1]`` is the port; pass
        port=0 for an ephemeral one).  Caller shuts it down."""
        registry = self.metrics
        http_log = self.logger.session("http")

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 — BaseHTTPRequestHandler contract
                if self.path == "/health":
                    body = b"OK"
                elif self.path == "/metrics":
                    body = registry.render_text().encode()
                else:
                    self.send_response(404)
                    self.end_headers()
                    return
                self.send_response(200)
                self.send_header("Content-Type", "text/plain; version=0.0.4")
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, fmt, *args):
                # per-request noise belongs at DEBUG, as structured JSON,
                # not raw stderr lines
                http_log.debug("request", {"line": fmt % args})

        server = http.server.ThreadingHTTPServer(("127.0.0.1", port), Handler)
        threading.Thread(target=server.serve_forever, daemon=True).start()
        return server


__all__ = ["SHIPPER_NAME", "Service", "TickCounts"]
