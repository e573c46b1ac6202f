"""The ``analytics`` workload: registry queries over fixed tables.

The tables are a copy of the engine's synthetic test data at scale factor
0.01, kept under ``data/``; they do not depend on the seed.  A timed run of
a query builds it and collects its result with ``toPandas``.  The first
result of each query is compared, after the timed region, with the query's
DuckDB oracle SQL over the same files.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

# The workload's own fixed query list: every entry has oracle SQL in the
# registry.  Grouped by the tables they read.
QUERIES = (
    # events: the service-shaped and time-series queries
    "unshipped_events", "raw_events_page", "splunk_envelope",
    "hourly_rollup", "rolling_daily_value", "daily_gapfill", "value_stats",
    "sessionization", "interval_join", "funnel_analysis", "cohort_retention",
    "mad_outliers", "rolling_distinct_users", "event_transition_matrix",
    "session_paths", "time_to_convert",
    "zorder_key", "dp_noisy_counts", "join_size_estimate",
    # TPC-H shaped tables
    "pricing_summary", "top_revenue_orders", "order_priority_counts",
    "promo_revenue", "small_quantity_revenue", "idle_customers",
    "customer_order_distribution", "skew_audit",
    # documents
    "text_quality", "token_stats", "token_histogram", "pii_scrub",
    "doc_chunks", "phrase_search", "simhash_md5", "train_test_split",
    "fim_transform",
    # embeddings
    "knn_bruteforce", "embedding_quantize", "random_projection",
    "hard_negatives",
)
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
# the engine's synthetic test tables at scale factor 0.01 (FIXTURES.md §B),
# the scale its oracle parity tests run at
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                    "sf0.01")


def normalize(pdf):
    """Order-free, dtype-free form of a result frame for comparison."""
    import pandas as pd

    out = pdf[sorted(pdf.columns)].copy()
    for c in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            out[c] = out[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(out[c]):
            out[c] = out[c].astype("float64")
        elif pd.api.types.is_integer_dtype(out[c]):
            out[c] = out[c].astype("int64")
    return out.sort_values(by=list(out.columns), ignore_index=True)


class AnalyticsBench:
    def __init__(self, spark, tracer) -> None:
        from paas_auditor_spark.queries import REGISTRY

        self.spark = spark
        self.tracer = tracer
        self.data = DATA
        self.specs = {name: REGISTRY[name] for name in QUERIES}
        # first result of each query, kept for the oracle check
        self.results: dict[str, object] = {}
        self.failures: list[str] = []

    def setup(self, repeats: int) -> float:
        """Nothing to set up or repeat: the tables are committed."""
        return 0.0

    def phase(self, seconds: float) -> dict[str, list[float]]:
        """Time the queries in list order, round and round, until
        ``seconds`` have passed and every query ran at least once; returns
        query → build + collect seconds of each run."""
        runs: dict[str, list[float]] = {name: [] for name in QUERIES}
        t_end = time.perf_counter() + seconds
        k = 0
        while k < len(QUERIES) or time.perf_counter() < t_end:
            name = QUERIES[k % len(QUERIES)]
            runs[name].append(self.run_query(name))
            k += 1
        return runs

    def run_query(self, name: str) -> float:
        """Build one query and collect its result with ``toPandas``; a query
        that raises counts 0 s and is kept for the check to fail."""
        fn = self.specs[name].fn
        t = self.tracer
        try:
            df, build, (j1, s1, t1) = t.timed_group(
                lambda: fn(self.spark, self.data))
            pdf, execute, (j2, s2, t2) = t.timed_group(df.toPandas)
        except Exception as ex:  # the check counts it; the run goes on
            self.results.setdefault(name, ex)
            return 0.0
        self.results.setdefault(name, pdf)
        t.add("queries.build_s", build)
        t.add("queries.exec_s", execute)
        t.add(f"queries.{name}.exec_s", execute)
        t.add("queries.spark_jobs", j1 + j2)
        t.add("queries.spark_stages", s1 + s2)
        t.add("queries.spark_tasks", t1 + t2)
        return build + execute

    def metrics(self, runs) -> dict[str, float]:
        per_query = [statistics.median(runs[n]) for n in QUERIES]
        total = sum(per_query)
        return {
            "throughput_per_s": len(QUERIES) / total,
            "latency_p50_s": statistics.median(per_query),
            "latency_tail_s": statistics.quantiles(per_query, n=4)[2],
            # every result is delivered once
            "reship_ratio": 1.0,
            "query_total_s": total,
        }

    def measure(self, seconds: float) -> dict[str, float]:
        return self.metrics(self.phase(seconds))

    def trace_halves(self, seconds: float) -> float:
        """An untimed warm pass, then half untraced, half traced; returns
        the traced change of the summed query time."""
        for name in QUERIES:
            self.run_query(name)
        off = self.metrics(self.phase(seconds / 2))["query_total_s"]
        self.tracer.on = True
        on = self.metrics(self.phase(seconds / 2))["query_total_s"]
        self.tracer.on = False
        return (on - off) / off

    def layer_totals(self) -> None:
        pass

    def finish(self) -> None:
        pass

    def check(self) -> tuple[int, int]:
        """(attempted, failed): each query's first result against its
        DuckDB oracle over the same files."""
        import duckdb
        import pandas as pd

        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(self.data, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        for name, spec in self.specs.items():
            got = self.results.get(name)
            try:
                if isinstance(got, Exception):
                    raise got
                want = normalize(con.execute(spec.oracle).df())
                pd.testing.assert_frame_equal(
                    normalize(got), want, check_dtype=False, atol=0, rtol=0)
            except Exception as ex:  # a failing query is a counted failure
                self.failures.append(name)
                print(f"# {name}: {type(ex).__name__}: {str(ex)[:200]}",
                      file=sys.stderr)
        con.close()
        return len(QUERIES), len(self.failures)
