"""Service runner: the reference's process wiring (main.go:24-135) as a
composable object.

main.go wires: config → DB init → three independent loops (collector 2m,
shipper 15s, informer 15s) → HTTP server with /metrics + /health →
SIGINT/SIGTERM graceful shutdown → collector error exits the process,
shipper error logs and continues.  ``Service`` reproduces that contract on
the Spark engine:

- warehouse init (W5, sources.bootstrap.init_warehouse)
- collector tick: watermark fetch → validate → delta-append to the bronze
  parquet table (only fresh rows are written — never a rewrite of history)
- shipper tick: cursor query → ordered NDJSON batches with retries →
  cursor table swap (atomic temp-dir rename, the parquet stand-in for
  W2's upsert)
- informer tick: metadata count + latest-timestamp gauges
- /metrics (Prometheus text) and /health endpoints on a ThreadingHTTPServer
- error policies per loop (T8): collector raises out of ``run_loops`` —
  the process-exit analog; shipper/informer log and continue
"""

from __future__ import annotations

import datetime as dt
import http.server
import threading
import time
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from paas_auditor_spark.config import EngineConfig
from paas_auditor_spark.logs import JsonLogger
from paas_auditor_spark.operators.cursor import EPOCH_TS
from paas_auditor_spark.operators.ingest import validate_events
from paas_auditor_spark.sources.paginated_http import (
    Transport,
    fetch_event_pages,
    pages_to_dataframe,
)
from paas_auditor_spark.stores import ParquetStore
from paas_auditor_spark.streaming.metrics import MetricsRegistry
from paas_auditor_spark.streaming.pipeline import scheduler_loop
from paas_auditor_spark.streaming.ship import Sender, build_payloads, ship_rows

SHIPPER_NAME = "cf-audit-events-to-splunk"


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
            self.maintenance_tick: self.logger.session("maintenance"),
        }
        # (path, parts, protocol, min_batches, lock) per registered
        # collector dataset — see register_collector_dataset
        self._collector_datasets: list[tuple] = []
        # fold-artifact on-disk size per generation batch-0 (immutable
        # once committed) — saves the volume guard an O(files) walk of
        # the artifact every maintenance tick
        self._fold_base_bytes: dict[str, int] = {}

    # -- ticks ------------------------------------------------------------

    def _watermark(self) -> dt.datetime:
        """max(created_at) − overlap, epoch default + year<1970 guard (T2,
        reference cf_audit_event_collector.go:36,92-104)."""
        latest = self.store.latest_event_time()
        wm = latest - dt.timedelta(seconds=self.cfg.watermark_overlap_s)
        return EPOCH_TS if wm.year < 1970 else wm

    def collector_tick(self) -> int:
        """Fetch since watermark, validate, append ONLY the fresh delta."""
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
        batch = pages_to_dataframe(self.spark, pages)
        valid, _quarantine = validate_events(batch, ts_col="created_at")
        # same dedup shape as idempotent_merge (in-batch dropDuplicates +
        # watermark-bounded anti-join), but keeping only the fresh side so
        # the write is a delta append, never a history rewrite.  The DB-API
        # store's ON CONFLICT insert backstops the same guarantee
        # transactionally (W1).
        deduped = valid.dropDuplicates(["guid"])
        overlap_keys = self.store.overlap_keys_df(watermark)
        fresh = deduped.join(
            F.broadcast(overlap_keys), "guid", "left_anti"
        ).localCheckpoint(eager=False)  # count + write = two actions
        n = fresh.count()
        if n:
            self.store.append_events(fresh)
        self.metrics.inc(
            "cf_audit_event_collector_events_collected_total", float(n)
        )
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
        t0 = time.perf_counter()
        batch_df = self.store.unshipped_events(
            SHIPPER_NAME, self.cfg.ship_batch_cap
        )
        rows = build_payloads(batch_df, self.cfg.deploy_env).collect()
        shipped, last_ok, _failed = ship_rows(
            rows,
            self.sender,
            SHIPPER_NAME,
            metrics=self.metrics,
            logger=self._loop_logs[self.shipper_tick],
        )
        if last_ok is not None:
            from paas_auditor_spark.functions.timecross import parse_wall

            # W2: cursor advances only to the last event of the last
            # acknowledged batch (T4 monotone); the timestamp comes from
            # the wall-clock string twin, not the process-tz-converted
            # datetime object
            self.store.upsert_cursor(
                SHIPPER_NAME, parse_wall(last_ok["created_at_s"]), last_ok["guid"]
            )
        from paas_auditor_spark.streaming.ship import _mname

        self.metrics.inc(
            f"{_mname(SHIPPER_NAME)}_ship_duration_total",
            time.perf_counter() - t0,
        )
        self.totals.shipped += shipped
        self._loop_logs[self.shipper_tick].info("shipped", {"events": shipped})
        return shipped

    def informer_tick(self) -> None:
        """Reference pkg/informer/informer.go:26-54: dataset-size (A2
        approximate where the backend offers it) + latest-timestamp gauges."""
        self.metrics.set(
            "informer_cf_audit_events_total", float(self.store.event_count())
        )
        from paas_auditor_spark.functions.timecross import epoch_utc

        self.metrics.set(
            "informer_latest_cf_audit_event_timestamp",
            epoch_utc(self.store.latest_event_time()),
        )

    def register_collector_dataset(
        self,
        path: str,
        write_hook,
        parts: tuple[str, ...] = ("",),
        protocol: str = "rename",
        min_batches: int = 16,
        tombstone_path: str | None = None,
        tombstone_id_col: str = "doc_id",
        fold=None,
        max_delta_fraction: float | None = None,
    ):
        """Enroll a collector dataset (bloom words / histograms /
        postings) in the maintenance loop and return the hook WRAPPED in
        the dataset's compaction lock.

        compact_batches' single-writer contract says compaction must not
        race the appender; taking one lock around both the per-batch
        commit (the returned hook) and the fold (maintenance_tick) makes
        that structural instead of a calling convention — a micro-batch
        in flight delays the fold, never interleaves with it.
        ``min_batches`` is the churn guard: fold only once that many
        batch directories have accumulated in the live generation.

        ``tombstone_path`` (doc-keyed indexes only — postings, the
        MinHash band index) enrolls the dataset's DELETION relation:
        every maintenance fold then also physically drops rows whose
        ``tombstone_id_col`` is tombstoned (``apply_tombstones_fold``'s
        transform).  No extra fold is scheduled for deletions — between
        folds the readers' read-time anti-join already makes takedowns
        effective, so fold-time application riding the regular churn
        cadence is exactly the reclamation policy a 100 TB index wants.

        ``fold`` (optional, ``fn(spark, tombstone_path) -> int``)
        replaces the generic ``compact_batches`` call for datasets
        whose fold MATERIALIZES read-side artifacts — the MinHash gate
        index passes ``minhash_fold`` here so every maintenance tick
        also rewrites the global collapse and band flags (the r10
        probe reads them instead of re-aggregating the index).  The
        callable receives this dataset's ``tombstone_path`` (or None)
        as its second argument, so the physical-reclamation promise
        above holds BY CONSTRUCTION for custom folds too — a fold that
        ignored a registered tombstone relation would silently leave
        takedown data on disk forever (r10 advice; results would stay
        correct via the read-time anti-join, but reclamation is the
        point of fold-time application).  It runs under the dataset
        lock and must use ``defer_delete=True`` to keep the
        reader-grace discipline.

        ``max_delta_fraction`` (optional) adds a DATA-VOLUME churn
        guard alongside the batch-count one: once a folded generation
        exists, fold as soon as the unfolded batch dirs' on-disk bytes
        exceed this fraction of the fold artifact's — so fold cadence
        follows ingest volume, not tick count.  Motivated by the
        measured probe-cost-vs-delta curve of the MinHash gate
        (SURVEY §6: ~0.7 s per 1% unfolded at the 100× index): a
        volume guard keeps read-side reconciliation cost bounded even
        when batches are few but large.  The count guard still applies
        (whichever trips first); the FIRST fold always goes through
        ``min_batches`` (before a generation exists there is no folded
        baseline to compare against)."""
        lock = threading.Lock()
        self._collector_datasets.append(
            (path, parts, protocol, min_batches, lock,
             tombstone_path, tombstone_id_col, fold, max_delta_fraction)
        )

        def locked_hook(batch_df, batch_id):
            with lock:
                write_hook(batch_df, batch_id)

        return locked_hook

    def maintenance_tick(self) -> int:
        """Fold every registered collector dataset whose live generation
        has accumulated ``min_batches`` batch dirs (the engine's fourth
        loop — the reference has no per-batch datasets to maintain, the
        engine's incremental filters/sketches/indexes do).  Error policy
        is log-and-continue like the shipper: a failed fold leaves the
        dataset correct (whole-generations-or-nothing) and the next tick
        retries.

        Reader-safe delete discipline: each tick first VACUUMS
        generations superseded by an earlier tick, then folds with
        ``defer_delete=True`` — so a query that resolved the previous
        generation just before a flip gets one full maintenance interval
        to finish before its files disappear (the table-format vacuum
        pattern; compact_batches' docstring names the FileNotFound race
        an immediate delete would invite).  The vacuum also reaps
        crash-orphaned generations and tmp build dirs.  Returns the
        number of batch dirs folded."""
        import os

        from paas_auditor_spark.operators.atomic import (
            anti_join_tombstones,
            collector_root,
            compact_batches,
            tombstone_ids,
            vacuum_superseded,
        )

        def _dir_bytes(d: str) -> int:
            total = 0
            for r, _dirs, files in os.walk(d):
                for f in files:
                    try:
                        total += os.path.getsize(os.path.join(r, f))
                    except OSError:
                        pass  # racing a writer/vacuum: size is advisory
            return total

        folded = 0
        for (path, parts, protocol, min_batches, lock,
             tomb_path, tomb_id_col, fold,
             max_delta_fraction) in self._collector_datasets:
            vacuum_superseded(path)
            root = collector_root(path)
            if not os.path.isdir(root):
                continue
            batch_dirs = [
                d for d in os.listdir(root) if d.startswith("batch-")
            ]
            # once a folded generation exists its batch-0 is the fold
            # ARTIFACT, not ingest churn — counting it toward
            # min_batches would make every post-fold count trip one
            # delta batch early (r10 advice)
            delta_dirs = (
                [d for d in batch_dirs if d != "batch-0"]
                if root != path
                else batch_dirs
            )
            trip = len(delta_dirs) >= min_batches
            if (
                not trip
                and max_delta_fraction is not None
                and root != path  # a folded generation exists
                and delta_dirs  # something beyond the artifact
            ):
                art = os.path.join(root, "batch-0")
                if os.path.isdir(art):
                    # the artifact is immutable once committed (a new
                    # fold lands in a NEW generation dir), so its size
                    # is walked once per generation, not per tick
                    base = self._fold_base_bytes.get(art)
                    if base is None:
                        base = _dir_bytes(art)
                        self._fold_base_bytes[art] = base
                    delta = sum(
                        _dir_bytes(os.path.join(root, d))
                        for d in delta_dirs
                    )
                    trip = base > 0 and delta > max_delta_fraction * base
            if not trip:
                continue
            if fold is not None:
                with lock:
                    folded += fold(self.spark, tomb_path)
                continue
            transform = None
            if tomb_path is not None:
                doomed = tombstone_ids(self.spark, tomb_path, protocol)
                if doomed is not None:
                    transform = (
                        lambda part, df, _d=doomed, _c=tomb_id_col:
                        anti_join_tombstones(df, _d, _c)
                    )
            with lock:
                folded += compact_batches(
                    self.spark,
                    path,
                    parts=parts,
                    protocol=protocol,
                    defer_delete=True,
                    transform=transform,
                )
        if self._fold_base_bytes:
            # drop cache entries for generations the vacuum reclaimed
            self._fold_base_bytes = {
                k: v for k, v in self._fold_base_bytes.items()
                if os.path.isdir(k)
            }
        if folded:
            self._loop_logs[self.maintenance_tick].info(
                "compacted", {"batch_dirs": folded}
            )
        return folded

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

    def run_threaded(
        self,
        loops: tuple[str, ...] = (
            "collector",
            "shipper",
            "informer",
            "maintenance",
        ),
    ) -> list[threading.Thread]:
        """Reference deployment shape: three daemon loops on their own
        cadences (T1), stopped via ``stop()`` (T7).  ``loops`` selects a
        subset — the streaming deployment replaces the collector loop with
        a Structured Streaming query and runs only shipper+informer here."""
        specs = []
        if "collector" in loops:
            specs.append(
                (self.collector_tick, self.cfg.collector_schedule_s, "raise")
            )
        if "informer" in loops:
            specs.append(
                (self.informer_tick, self.cfg.informer_schedule_s, "continue")
            )
        if self.sender is not None and "shipper" in loops:
            # main.go:110-121 creds gate
            specs.insert(
                min(1, len(specs)),
                (self.shipper_tick, self.cfg.shipper_schedule_s, "continue"),
            )
        if "maintenance" in loops:
            # ALWAYS armed (maintenance_tick no-ops over an empty dataset
            # list): the streaming deployment calls run_threaded BEFORE its
            # collector datasets register their hooks, so gating on
            # _collector_datasets being non-empty at call time left the
            # fourth loop permanently dead in the deployed path — batch
            # dirs of a later-registered dataset accumulated unboundedly.
            specs.append(
                (
                    self.maintenance_tick,
                    self.cfg.maintenance_schedule_s,
                    "continue",
                )
            )
        threads = []
        for tick, interval, policy in specs:
            loop = scheduler_loop(
                tick,
                interval,
                self._stop.is_set,
                on_error=policy,
                on_exception=lambda ex, t=tick: self._tick_failed(t, ex),
            )
            t = threading.Thread(
                target=lambda lp=loop: [None for _ in lp], daemon=True
            )
            t.start()
            threads.append(t)
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
