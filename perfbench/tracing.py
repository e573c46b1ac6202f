"""Per-layer measurement from outside the program.

The tracer wraps what the benchmark hands to the program (the CF
transport, the HEC sender, the event store), times the calls the benchmark
makes into it (runner ticks, registry queries), tags each with a Spark job
group so the job, stage and task counts can be read back from the status
tracker, and listens to streaming progress.  It records nothing while
``on`` is false, so one run can measure the same workload with and without
it.  Every time is a total over the traced phase, in seconds unless the
name ends in ``_ms``.
"""

from __future__ import annotations

import itertools
import os
import threading
import time
from collections import defaultdict

# per-layer metric names and units, in the order they are printed; the
# per-query ``queries.<name>.exec_s`` entries are appended by the runner
LAYER_METRICS: dict[str, str] = {}
for _loop in ("collector", "shipper", "informer"):
    LAYER_METRICS |= {
        f"runner.{_loop}.ticks": "count",
        f"runner.{_loop}.busy_s": "s",
        f"runner.{_loop}.spark_jobs": "count",
        f"runner.{_loop}.spark_stages": "count",
    }
LAYER_METRICS |= {
    "paginated_http.requests": "count",
    "paginated_http.busy_s": "s",
    "paginated_http.bytes": "B",
    "ingest.self_s": "s",
    "ingest.rows_in": "count",
    "ingest.rows_fresh": "count",
    "ingest.fresh_ratio": "ratio",
    "stores.latest_event_time_s": "s",
    "stores.append_s": "s",
    "stores.append_rows": "count",
    "stores.upsert_cursor_s": "s",
    "stores.event_count_s": "s",
    "stores.event_files": "count",
    "stores.event_bytes": "B",
    "ship.sends": "count",
    "ship.send_s": "s",
    "ship.send_failures": "count",
    "ship.payload_bytes": "B",
    "ship.query_build_s": "s",
    "pipeline.batches": "count",
    "pipeline.input_rows": "count",
    "pipeline.trigger_ms": "ms",
    "pipeline.add_batch_ms": "ms",
    "pipeline.latest_offset_ms": "ms",
    "pipeline.get_batch_ms": "ms",
    "pipeline.wal_commit_ms": "ms",
    "cf.requests": "count",
    "cf.events_served": "count",
    "cf.events_reserved": "count",
    "hec.posts": "count",
    "hec.bytes": "B",
    "queries.build_s": "s",
    "queries.exec_s": "s",
    "queries.spark_jobs": "count",
    "queries.spark_stages": "count",
    "queries.spark_tasks": "count",
    "trace.overhead_frac": "ratio",
}

# streaming progress phase → metric
PROGRESS_PHASES = {
    "triggerExecution": "pipeline.trigger_ms",
    "addBatch": "pipeline.add_batch_ms",
    "latestOffset": "pipeline.latest_offset_ms",
    "getBatch": "pipeline.get_batch_ms",
    "walCommit": "pipeline.wal_commit_ms",
}


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.on = False
        self.values: dict[str, float] = defaultdict(float)
        self._lock = threading.Lock()
        self._groups = itertools.count()

    def add(self, name: str, value: float) -> None:
        if self.on:
            with self._lock:
                self.values[name] += value

    def total(self, name: str) -> float:
        with self._lock:
            return self.values.get(name, 0.0)

    # -- Spark jobs -------------------------------------------------------

    def spark_counts(self, group: str) -> tuple[int, int, int]:
        """(jobs, stages, tasks) the status tracker saw in a job group."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                stages += 1
                sinfo = st.getStageInfo(s)
                tasks += sinfo.numTasks if sinfo else 0
        return len(jobs), stages, tasks

    def timed_group(self, fn):
        """Run ``fn`` under a fresh job group; return (result, seconds,
        (jobs, stages, tasks)).  Without tracing, only the time."""
        if not self.on:
            t0 = time.perf_counter()
            out = fn()
            return out, time.perf_counter() - t0, (0, 0, 0)
        group = f"perfbench-{next(self._groups)}"
        self.sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            out = fn()
            dt = time.perf_counter() - t0
        finally:
            self.sc.setJobGroup("perfbench-idle", "")
        return out, dt, self.spark_counts(group)

    def tick(self, loop: str, fn):
        """One runner tick: busy time, Spark jobs and stages, and the
        layer self times that need the tick's own span."""
        if not self.on:
            return fn()
        before = {
            k: self.total(k)
            for k in ("paginated_http.busy_s", "stores.collector_s",
                      "ship.send_s", "stores.upsert_cursor_s")
        }
        out, dt, (jobs, stages, _tasks) = self.timed_group(fn)

        def delta(k: str) -> float:
            return self.total(k) - before[k]

        self.add(f"runner.{loop}.ticks", 1)
        self.add(f"runner.{loop}.busy_s", dt)
        self.add(f"runner.{loop}.spark_jobs", jobs)
        self.add(f"runner.{loop}.spark_stages", stages)
        if loop == "collector":
            self.add("ingest.rows_fresh", out or 0)
            self.add(
                "ingest.self_s",
                dt - delta("paginated_http.busy_s") - delta("stores.collector_s"),
            )
        elif loop == "shipper":
            self.add(
                "ship.query_build_s",
                dt - delta("ship.send_s") - delta("stores.upsert_cursor_s"),
            )
        return out

    # -- wrappers around what the program is handed -----------------------

    def transport(self, inner):
        def get(url: str) -> dict:
            if not self.on:
                return inner(url)
            t0 = time.perf_counter()
            page = inner(url)
            self.add("paginated_http.busy_s", time.perf_counter() - t0)
            self.add("paginated_http.requests", 1)
            self.add("paginated_http.bytes", _json_len(page))
            self.add("ingest.rows_in", len(page.get("resources") or ()))
            return page

        return get

    def sender(self, inner):
        def send(payload, *args, **kwargs):
            if not self.on:
                return inner(payload, *args, **kwargs)
            t0 = time.perf_counter()
            try:
                return inner(payload, *args, **kwargs)
            except Exception:
                self.add("ship.send_failures", 1)
                raise
            finally:
                self.add("ship.send_s", time.perf_counter() - t0)
                self.add("ship.sends", 1)
                self.add("ship.payload_bytes", _payload_len(payload))

        return send

    def store(self, inner):
        return TracedStore(inner, self)

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802
                pass

            def onQueryProgress(self, event):  # noqa: N802
                p = event.progress
                durations = p.durationMs or {}
                if "addBatch" not in durations:
                    return  # no batch ran in this trigger
                tracer.add("pipeline.batches", 1)
                tracer.add("pipeline.input_rows", p.numInputRows or 0)
                for phase, name in PROGRESS_PHASES.items():
                    tracer.add(name, durations.get(phase, 0))

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        return Progress()


class TracedStore:
    """Store proxy that times the calls the runner and the streaming sink
    make; every other attribute passes through to the wrapped store."""

    def __init__(self, inner, tracer: Tracer) -> None:
        self._inner = inner
        self._t = tracer

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def _timed(self, metric: str, fn, *args, collector: bool = False):
        if not self._t.on:
            return fn(*args)
        t0 = time.perf_counter()
        out = fn(*args)
        dt = time.perf_counter() - t0
        self._t.add(metric, dt)
        if collector:
            self._t.add("stores.collector_s", dt)
        return out

    def latest_event_time(self):
        return self._timed(
            "stores.latest_event_time_s", self._inner.latest_event_time,
            collector=True,
        )

    def overlap_keys_df(self, floor):
        return self._timed(
            "stores.overlap_keys_s", self._inner.overlap_keys_df, floor,
            collector=True,
        )

    def append_events(self, fresh_df):
        return self._timed(
            "stores.append_s", self._inner.append_events, fresh_df,
            collector=True,
        )

    def event_count(self):
        return self._timed("stores.event_count_s", self._inner.event_count)

    def upsert_cursor(self, name, updated_at, shipped_id):
        return self._timed(
            "stores.upsert_cursor_s", self._inner.upsert_cursor,
            name, updated_at, shipped_id,
        )


def table_files(path: str) -> tuple[int, int]:
    """(data files, bytes) of a parquet table directory."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def _json_len(obj) -> int:
    import json

    return len(json.dumps(obj, separators=(",", ":")))


def _payload_len(payload) -> int:
    if isinstance(payload, (str, bytes)):
        return len(payload)
    return sum(_payload_len(p) for p in payload)
