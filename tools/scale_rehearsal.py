"""sf0.1 → sf1 scaling rehearsal: run the most expensive headline
queries plus the dedup/ANN flagships at both scale factors, measure
wall-time scaling, and diff physical-plan shapes.

The claim under test: the engine's plans are SCALE-INVARIANT — 10× the
data changes partition counts and task sizes, never the plan shape (no
new Exchanges, pruning/broadcasts intact, no single-partition stages) —
and wall time grows ≈ linearly (ratio ≲ factor; sub-linear where fixed
scheduling overhead dominates at sf0.1).

Each side is timed with bench.py's best-of-2 noop-sink protocol.

Usage: PYTHONPATH=. python tools/scale_rehearsal.py
           [--small /root/testdata/sf0.1] [--big /root/repo/.scale/sf1]
Prints one JSON line per query and a final markdown table for SURVEY §6.
"""

from __future__ import annotations

import argparse
import json
import re

QUERIES = [
    # reference-parity ship path
    "unshipped_events",
    # TPC-H / relational
    "pricing_summary", "sessionization",
    # the most expensive headline queries
    "lm_perplexity", "lm_perplexity_interp", "bloom_decontaminate",
    "cdc_near_dup", "knn_ivfpq", "segment_dedup", "curation_pipeline",
    # dedup / ANN flagships
    "dedup_exact", "dedup_clusters_star", "semantic_dedup",
    "embedding_near_dup_lsh", "duplicate_spans", "bm25_search",
    # the distributed-rank queries (no single-partition window)
    "activity_gini", "traffic_pareto",
]

_NODE = re.compile(r"^[\s+:*!-]*([A-Za-z]+[A-Za-z0-9]*)\b")


def plan_shape(df) -> dict[str, int]:
    """Multiset of physical operator names (AQE initial plan) — the
    scale-invariance fingerprint."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    counts: dict[str, int] = {}
    for line in plan.splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        name = m.group(1)
        if name in ("Input", "Output", "Arguments", "Condition",
                    "ReadSchema", "PushedFilters", "Location", "Batched",
                    "DataFilters", "PartitionFilters", "Format"):
            continue
        counts[name] = counts.get(name, 0) + 1
    return counts


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--small", default="/root/testdata/sf0.1")
    ap.add_argument("--big", default="/root/repo/.scale/sf1")
    ap.add_argument(
        "--queries", default=None,
        help="comma-separated subset of the default query list",
    )
    ap.add_argument(
        "--headline", action="store_true",
        help="run bench.py's FULL headline list (every headline query "
        "measured at the 10x slice once, not just the expensive/flagship "
        "subset)",
    )
    args = ap.parse_args()
    import bench

    if args.headline:
        QUERIES[:] = bench.HEADLINE
    elif args.queries:
        QUERIES[:] = args.queries.split(",")

    from paas_auditor_spark.queries import REGISTRY
    from paas_auditor_spark.session import get_spark

    spark = get_spark(app_name="scale-rehearsal")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    rows = []
    for name in QUERIES:
        fn = REGISTRY[name].fn
        shape_s = plan_shape(fn(spark, args.small))
        shape_b = plan_shape(fn(spark, args.big))
        diff = {
            k: (shape_s.get(k, 0), shape_b.get(k, 0))
            for k in sorted(set(shape_s) | set(shape_b))
            if shape_s.get(k, 0) != shape_b.get(k, 0)
        }
        t_s = bench._best_of_two(fn, spark, args.small)
        t_b = bench._best_of_two(fn, spark, args.big)
        rec = {
            "query": name,
            "sf0.1_sec": t_s,
            "sf1_sec": t_b,
            "ratio": round(t_b / t_s, 2) if t_s else None,
            "plan_invariant": not diff,
            "plan_diff": diff,
        }
        rows.append(rec)
        print(json.dumps(rec), flush=True)

    print("\n| query | sf0.1 s | sf1 s | ratio | plan |")
    print("|---|---|---|---|---|")
    for r in rows:
        mark = "=" if r["plan_invariant"] else "DIFF " + str(r["plan_diff"])
        print(
            f"| {r['query']} | {r['sf0.1_sec']} | {r['sf1_sec']} "
            f"| {r['ratio']} | {mark} |"
        )
    tot_s = round(sum(r["sf0.1_sec"] for r in rows), 1)
    tot_b = round(sum(r["sf1_sec"] for r in rows), 1)
    print(
        f"\ntotal: {args.small} {tot_s} s, {args.big} {tot_b} s, "
        f"ratio {round(tot_b / tot_s, 2)}"
    )


if __name__ == "__main__":
    main()
