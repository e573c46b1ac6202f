"""Benchmark of the service path and the analytics queries.

    python3 perfbench/run.py --workload service --seed 1 --seconds 8 --trace 0

Run from the root of a checkout.  Workloads (see perfbench/README.md):

- ``service``: backfill rounds of events visible at once, drained in loop
  mode (closed loop); then live traffic at a fixed rate through
  ``stream_api_to_store`` while the benchmark drives the shipper and
  informer ticks (open loop);
- ``analytics``: registry queries over fixed tables, each built and
  collected with ``toPandas``.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("service", "analytics")
END_TO_END = {
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "reship_ratio": "ratio",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
# the same metrics under the names each kind of workload reports them by
SERVICE_NAMES = {
    "throughput_per_s": "events_per_s",
    "latency_p50_s": "ship_delay_p50_s",
    "latency_tail_s": "ship_delay_p99_s",
    "reship_ratio": "reship_ratio",
    "setup_s": "setup_s",
    "peak_rss_mb": "peak_rss_mb",
}
ANALYTICS_NAMES = {
    "query_total_s": "query_total_s",
    "throughput_per_s": "queries_per_s",
    "latency_p50_s": "query_p50_s",
    "latency_tail_s": "query_p75_s",
    "setup_s": "setup_s",
    "peak_rss_mb": "peak_rss_mb",
}
SETUP_REPEATS = 3
SERVICE = {
    "history": 10_000,       # events stored before the run
    "history_per_sec": 200,  # events per second of their event time
    "warmup_events": 100,    # one burst through each mode before timing
    "round_events": 2000,    # a backfill round
    "round_s": 4,            # its rough length on a 4-core box
    "round_per_sec": 20,     # events per second of event time in a round
    "rate": 200,             # live events/s; their event time keeps pace
    # the streaming collector's trigger: longer than a shipper plus an
    # informer tick, so that one round of ticks follows each commit
    "trigger_s": 4,
}
HEC_TOKEN = "perfbench"
# per-layer counts kept by the load generator
LOADGEN_LAYER = ("cf.requests", "cf.events_served", "cf.events_reserved",
                 "hec.posts", "hec.bytes")
# the program's own count of the rows its collector appended
COLLECTED = "cf_audit_event_collector_events_collected_total"


def process_age_s() -> float:
    """Seconds since this process started, from /proc (0 where absent)."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return 0.0


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, q in [0, 1]."""
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


class LoadGen:
    """The fake CF + fake HEC process (perfbench/loadgen.py)."""

    def __init__(self) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "loadgen.py")],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        port = json.loads(self.proc.stdout.readline())["port"]
        self.url = f"http://127.0.0.1:{port}"

    def call(self, path: str, body: dict | None = None) -> dict:
        data = None if body is None else json.dumps(body).encode()
        with urllib.request.urlopen(f"{self.url}{path}", data=data,
                                    timeout=60) as resp:
            return json.load(resp)

    def close(self) -> None:
        try:
            self.proc.stdin.close()
            self.proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


def start_spark(cpus: int):
    from paas_auditor_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM, which exits when its standard
    input closes."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


# -- service workload -------------------------------------------------------


class ServiceBench:
    """Backfill in loop mode, then live traffic in streaming mode, over one
    warehouse, one shipper cursor and one fake CF."""

    def __init__(self, spark, lg: LoadGen, tracer, work: str, seed: int,
                 trace: bool) -> None:
        self.spark = spark
        self.lg = lg
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.trace = trace
        self.loaded = 0      # events loaded into the fake CF
        self.next_t = 0      # event time of the next block, s after BASE
        self.history_guids: set[str] = set()
        self.query = None
        self.last_batch = -1
        self.listener = None

    # setup ---------------------------------------------------------------

    def _history_table(self):
        """History events in the event table's column layout, as an Arrow
        table; remembers the last event as the shipper cursor."""
        import datetime as dt

        import pyarrow as pa

        from eventgen import TIME_FORMAT, make_events

        n, per_sec = SERVICE["history"], SERVICE["history_per_sec"]
        span = -(-n // per_sec)  # seconds of event time, ending before BASE
        events = make_events(self.seed, -n, n, per_sec, -span - 1)
        last = max(
            (e for e in events
             if e["metadata"]["created_at"] == events[-1]["metadata"]["created_at"]),
            key=lambda e: e["metadata"]["guid"],
        )
        self.cursor = (
            dt.datetime.strptime(last["metadata"]["created_at"], TIME_FORMAT),
            last["metadata"]["guid"],
        )
        self.history_guids = {e["metadata"]["guid"] for e in events}
        ents = [e["entity"] for e in events]
        cols = {
            "guid": [e["metadata"]["guid"] for e in events],
            "created_at": pa.array(
                [dt.datetime.strptime(e["metadata"]["created_at"], TIME_FORMAT)
                 for e in events], pa.timestamp("us", tz="UTC")),
        }
        for col, key in (("event_type", "type"), ("actor", "actor"),
                         ("actor_type", "actor_type"),
                         ("actor_name", "actor_name"),
                         ("actor_username", "actor_username"),
                         ("actee", "actee"), ("actee_type", "actee_type"),
                         ("actee_name", "actee_name")):
            cols[col] = [e[key] for e in ents]
        cols["organization_guid"] = [e["organization_guid"] or None for e in ents]
        cols["space_guid"] = [e["space_guid"] or None for e in ents]
        cols["metadata"] = [json.dumps(e["metadata"], separators=(",", ":"))
                            for e in ents]
        return pa.table(cols)

    def make_store(self, name: str, history):
        """Warehouse init through the program's store, the history written
        beside it as one parquet file, and the shipper cursor placed at the
        end of history through the store."""
        import pyarrow.parquet as pq

        from paas_auditor_spark.runner import SHIPPER_NAME
        from paas_auditor_spark.sources.bootstrap import EVENTS_TABLE
        from paas_auditor_spark.stores import ParquetStore

        store = ParquetStore(self.spark, os.path.join(self.work, name))
        pq.write_table(history, os.path.join(
            store.paths[EVENTS_TABLE], "part-history.parquet"))
        store.upsert_cursor(SHIPPER_NAME, *self.cursor)
        return store

    def setup(self, repeats: int) -> float:
        """Build the service and warm it up.  The warehouse init and history
        seed run ``repeats`` times, so that ``setup_s`` counts them once, at
        their median; returns the seconds of the other repeats."""
        from paas_auditor_spark.__main__ import resolve_sender, resolve_transport
        from paas_auditor_spark.config import EngineConfig
        from paas_auditor_spark.logs import JsonLogger
        from paas_auditor_spark.runner import Service

        history = self._history_table()
        times = []
        for k in range(repeats):
            t0 = time.perf_counter()
            store = self.make_store(f"warehouse-{k}", history)
            times.append(time.perf_counter() - t0)
        self.raw_store = store
        cfg = EngineConfig()
        # loopback fake CF: no politeness wait between pages
        cfg.pagination_wait_s = 0.0
        sender = resolve_sender({
            "SPLUNK_HEC_ENDPOINT_URL": f"{self.lg.url}/services/collector/event",
            "SPLUNK_API_KEY": HEC_TOKEN,
        })
        self._log = open(os.devnull, "w")
        self.svc = Service(
            self.spark,
            transport=self.tracer.transport(resolve_transport({}, self.lg.url)),
            sender=self.tracer.sender(sender),
            cfg=cfg,
            base_url=self.lg.url,
            store=self.tracer.store(store),
            logger=JsonLogger(sink=self._log),
        )
        self.loops = [
            ("collector", self.svc.collector_tick),
            ("shipper", self.svc.shipper_tick),
            ("informer", self.svc.informer_tick),
        ]
        self.warm_up()
        return sum(times) - statistics.median(times)

    def warm_up(self) -> None:
        """One burst through every layer of the current mode."""
        n = SERVICE["warmup_events"]
        first = self.release(n, SERVICE["round_per_sec"], 0)
        self.drain(first + n, time.monotonic() + 120)

    def start_streaming(self) -> None:
        """Replace the loop-mode collector with ``stream_api_to_store``,
        starting after the newest stored event (the switch a deployment
        makes when it sets ENGINE_MODE=streaming)."""
        from paas_auditor_spark.streaming.pipeline import stream_api_to_store

        from eventgen import BASE, TIME_FORMAT

        if self.trace:
            self.listener = self.tracer.listener()
            self.spark.streams.addListener(self.listener)
        since = BASE + datetime.timedelta(seconds=self.next_t - 1)
        self.query = stream_api_to_store(
            self.spark, self.lg.url, self.svc.store,
            os.path.join(self.work, "checkpoint"),
            since=since.strftime(TIME_FORMAT),
            trigger_processing_time=f'{SERVICE["trigger_s"]} seconds',
            metrics=self.svc.metrics,
        )
        self.loops = self.loops[1:]
        self.warm_up()

    # driving -------------------------------------------------------------

    def release(self, count: int, per_sec: int, rate: float) -> int:
        """Load ``count`` events into the fake CF, starting a new second of
        event time, and make them visible at ``rate`` per second (0: all
        at once); returns the first one's index."""
        self.lg.call("/ctl/load", {"seed": self.seed, "start": self.loaded,
                                   "count": count, "per_sec": per_sec,
                                   "t0": self.next_t})
        self.loaded += count
        self.next_t += -(-count // per_sec)
        return self.lg.call("/ctl/release", {"count": count, "rate": rate})["first"]

    def drain(self, target: int, deadline: float) -> None:
        """Run ticks until ``target`` events were acked or the deadline
        passed; the check counts what was never acked.  In loop mode the
        ticks run back to back.  In streaming mode each round of ticks
        starts when the collector commits a micro-batch, so the shipper's
        phase against the stream is the same in every run."""
        while True:
            if self.query is not None:
                self.await_commit(2 * SERVICE["trigger_s"])
            for name, fn in self.loops:
                self.tracer.tick(name, fn)
            if (self.lg.call("/ctl/status")["acked"] >= target
                    or time.monotonic() > deadline):
                return

    def await_commit(self, timeout: float) -> None:
        """Wait until the streaming query reports a batch newer than the
        last one seen, or ``timeout`` passes."""
        end = time.monotonic() + timeout
        while time.monotonic() < end:
            progress = self.query.lastProgress
            if progress is not None and progress.batchId > self.last_batch:
                self.last_batch = progress.batchId
                return
            time.sleep(0.02)

    def backfill(self, seconds: float) -> list[tuple[int, int]]:
        """Rounds of about ``round_s`` each; their number depends on
        ``seconds`` only, so every run does the same work."""
        n = SERVICE["round_events"]
        segments = []
        for _ in range(max(1, round(seconds / SERVICE["round_s"]))):
            first = self.release(n, SERVICE["round_per_sec"], 0)
            self.drain(first + n, time.monotonic() + 120)
            segments.append((first, first + n))
        return segments

    def live(self, seconds: float) -> list[tuple[int, int]]:
        rate = SERVICE["rate"]
        n = int(rate * seconds)
        first = self.release(n, rate, rate)
        self.drain(first + n, time.monotonic() + seconds + 120)
        return [(first, first + n)]

    def report(self, segments) -> tuple[float, list[float], list[int]]:
        """(distinct events acked per second of each segment's span,
        per-event delays, per-event delivery counts)."""
        acked = busy = 0.0
        delays, deliveries = [], []
        for first, last in segments:
            rep = self.lg.call("/ctl/report", {"first": first, "last": last})
            acks = [a for a in rep["ack"] if a is not None]
            delays += [a - v for a, v in zip(rep["ack"], rep["vis"])
                       if a is not None]
            deliveries += [d for d in rep["deliveries"] if d]
            acked += len(acks)
            busy += max(acks, default=0.0)
        return acked / busy, delays, deliveries

    def measure(self, seconds: float) -> dict[str, float]:
        rate, _, dels_b = self.report(self.backfill(seconds))
        self.start_streaming()
        _, delays, dels_l = self.report(self.live(seconds))
        deliveries = dels_b + dels_l
        return {
            "throughput_per_s": rate,
            "latency_p50_s": quantile(delays, 0.5),
            "latency_tail_s": quantile(delays, 0.99),
            "reship_ratio": sum(deliveries) / len(deliveries),
        }

    def trace_halves(self, seconds: float) -> float:
        """Each mode half untraced, half traced; returns the traced change
        of the backfill rate."""
        half = seconds / 2
        off = self.report(self.backfill(half))[0]
        on = self.report(self.traced(self.backfill, half))[0]
        self.start_streaming()
        self.live(half)
        self.traced(self.live, half)
        return (on - off) / off

    def traced(self, phase, seconds: float):
        """Run one phase with the tracer on, adding the load generator's
        counts over it, and the rows the collector appended, which the
        program counts in both modes."""
        before = self.lg.call("/ctl/counters")
        rows = self.svc.metrics.get(COLLECTED)
        self.tracer.on = True
        try:
            return phase(seconds)
        finally:
            self.tracer.on = False
            after = self.lg.call("/ctl/counters")
            for name in LOADGEN_LAYER:
                self.tracer.values[name] += after[name] - before[name]
            self.tracer.values["stores.append_rows"] += (
                self.svc.metrics.get(COLLECTED) - rows)

    def finish(self) -> None:
        if self.query is not None:
            self.query.stop()
        if self.listener is not None:
            self.spark.streams.removeListener(self.listener)
        self._log.close()

    def check(self) -> tuple[int, int]:
        """(attempted, failed): every offered event acked once stored,
        stored rows equal distinct guids, payloads match the generated
        events."""
        from pyspark.sql import functions as F

        from paas_auditor_spark.sources.bootstrap import EVENTS_TABLE

        released = self.lg.call("/ctl/status")["released"]
        rep = self.lg.call("/ctl/report", {"first": 0, "last": released})
        unacked = sum(1 for a in rep["ack"] if a is None)
        row = (
            self.spark.read.parquet(self.raw_store.paths[EVENTS_TABLE])
            .agg(F.count(F.lit(1)).alias("n"),
                 F.countDistinct("guid").alias("d"))
            .first()
        )
        extra = row["n"] - row["d"]
        missing = max(0, SERVICE["history"] + released - row["d"])
        # re-ships of the history events that share the seeded cursor's
        # second are the shipper's documented at-least-once behaviour
        unknown = sum(1 for g in rep["unknown"] if g not in self.history_guids)
        failed = unacked + extra + rep["mismatches"] + unknown
        failed += max(0, missing - unacked)
        print(f"# check: offered={released} unacked={unacked} "
              f"extra_copies={extra} missing={missing} "
              f"mismatches={rep['mismatches']} unknown={unknown}",
              file=sys.stderr)
        return released, failed

    def layer_totals(self) -> None:
        from paas_auditor_spark.sources.bootstrap import EVENTS_TABLE

        from tracing import table_files

        files, size = table_files(self.raw_store.paths[EVENTS_TABLE])
        values = self.tracer.values
        values["stores.event_files"] = files
        values["stores.event_bytes"] = size
        if values.get("ingest.rows_in"):
            values["ingest.fresh_ratio"] = (
                values.get("ingest.rows_fresh", 0) / values["ingest.rows_in"])


def run(args, work: str) -> dict:
    cpus = len(os.sched_getaffinity(0))
    age0 = process_age_s()
    t0 = time.perf_counter()
    lg = LoadGen() if args.workload != "analytics" else None
    spark = None
    try:
        spark = start_spark(cpus)
        if lg is not None:
            from loadgen import pin_to_last_core

            # after the JVM has started, so that it keeps every core
            pin_to_last_core()
        from tracing import Tracer

        tracer = Tracer(spark)
        if lg is None:
            from analytics import AnalyticsBench

            bench = AnalyticsBench(spark, tracer)
        else:
            bench = ServiceBench(spark, lg, tracer, work, args.seed,
                                 bool(args.trace))
        repeated = bench.setup(SETUP_REPEATS)
        t_measure = time.perf_counter()
        # process start to the first timed operation
        setup_s = age0 + t_measure - t0 - repeated
        if args.trace:
            tracer.values["trace.overhead_frac"] = bench.trace_halves(
                args.seconds)
            bench.layer_totals()
        else:
            m = bench.measure(args.seconds)
        jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
        peak = vm_hwm_mb() + vm_hwm_mb(jvm)
        t_check = time.perf_counter()
        bench.finish()
        attempted, failed = bench.check()
        print(f"# stages (s): setup {setup_s:.1f}"
              f" measure {t_check - t_measure:.1f}"
              f" check {time.perf_counter() - t_check:.1f}", file=sys.stderr)
    finally:
        if spark is not None:
            stop_spark(spark)
        if lg is not None:
            lg.close()
    if args.trace:
        from analytics import QUERIES
        from tracing import LAYER_METRICS

        names = LAYER_METRICS | {f"queries.{q}.exec_s": "s" for q in QUERIES}
        metrics = {
            n: {"value": float(tracer.values.get(n, 0.0)), "unit": u}
            for n, u in names.items()
        }
    else:
        m["setup_s"] = setup_s
        m["peak_rss_mb"] = peak
        metrics = {n: {"value": m[n], "unit": u} for n, u in END_TO_END.items()}
        names = ANALYTICS_NAMES if lg is None else SERVICE_NAMES
        print(f"# {args.workload}: " + "  ".join(
            f"{alias}={m[n]:.4g} {END_TO_END.get(n, 's')}"
            for n, alias in names.items())
            + f"  failed_frac={failed / attempted:.4g} ratio")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "paas_auditor_spark")):
        print(f"error: no paas_auditor_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # keep Spark's local files and temp files inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    # a fixed 1 GB heap with the serial collector, whose heap grows with
    # live data rather than with pause-time heuristics, so peak RSS repeats;
    # C1-only JIT, so that short runs reach a steady state without the long
    # C2 warm-up a long-lived service amortises, and so that the cold
    # analytics pass does not share the cores with C2 compiler threads
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        '--driver-java-options "-XX:+UseSerialGC -XX:-UsePerfData'
        f' -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={os.environ["TMPDIR"]}"'
        " pyspark-shell"
    )
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
