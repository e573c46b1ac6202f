"""Per-stage profile of one or more headline queries (guide §1.1/§7.1).

Runs each named query warm (one untimed pass, then a timed pass) with the
Spark UI enabled, then dumps per-stage metrics from the UI REST API:
stage name/description, executorRunTime, input bytes/records, shuffle
read/write bytes, task count.  This is the runtime ground truth that the
static `explain` output cannot show under AQE (exchange reuse happens in
the runtime stage cache, so duplicated subtrees in the initial plan may
run once).

Usage: python tools/profile_query.py name[,name...]
Writes /tmp/profile_<name>.json and prints a compact table.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = sys.argv[1].split(",")

    from paas_auditor_spark.queries import REGISTRY
    from paas_auditor_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    # UI on for the REST API (the engine session disables it)
    os.environ.setdefault("SPARK_GRAFT_PROFILE_UI", "1")
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("profile")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "12g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    def stages() -> list[dict]:
        with urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app_id}/stages?status=complete"
        ) as r:
            return json.loads(r.read())

    for name in names:
        fn = REGISTRY[name].fn
        # warm pass (untimed)
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        seen = {s["stageId"] for s in stages()}
        spark.sparkContext.setJobDescription(f"profile:{name}")
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        spark.sparkContext.setJobDescription(None)
        new = [s for s in stages() if s["stageId"] not in seen]
        new.sort(key=lambda s: -s.get("executorRunTime", 0))
        rows = []
        for s in new:
            rows.append(
                {
                    "stageId": s["stageId"],
                    "runTimeMs": s.get("executorRunTime", 0),
                    "cpuTimeMs": s.get("executorCpuTime", 0) // 1_000_000,
                    "tasks": s.get("numCompleteTasks", 0),
                    "inputMB": round(s.get("inputBytes", 0) / 2**20, 1),
                    "inRec": s.get("inputRecords", 0),
                    "shRdMB": round(s.get("shuffleReadBytes", 0) / 2**20, 2),
                    "shRdRec": s.get("shuffleReadRecords", 0),
                    "shWrMB": round(s.get("shuffleWriteBytes", 0) / 2**20, 2),
                    "shWrRec": s.get("shuffleWriteRecords", 0),
                    "name": s.get("name", "")[:80],
                }
            )
        rec = {
            "query": name,
            "build_s": round(t1 - t0, 3),
            "exec_s": round(t2 - t1, 3),
            "n_stages": len(rows),
            "sum_run_s": round(sum(r["runTimeMs"] for r in rows) / 1000, 2),
            "stages": rows,
        }
        with open(f"/tmp/profile_{name}.json", "w") as f:
            json.dump(rec, f, indent=1)
        print(
            f"\n== {name}: build {rec['build_s']}s exec {rec['exec_s']}s "
            f"stages {rec['n_stages']} Σrun {rec['sum_run_s']}s"
        )
        hdr = f"{'stage':>5} {'run_ms':>7} {'cpu_ms':>7} {'tk':>3} {'inMB':>7} {'inRec':>9} {'shRdMB':>7} {'shRdRec':>9} {'shWrMB':>7} {'shWrRec':>9}  name"
        print(hdr)
        for r in rows:
            print(
                f"{r['stageId']:>5} {r['runTimeMs']:>7} {r['cpuTimeMs']:>7} "
                f"{r['tasks']:>3} {r['inputMB']:>7} {r['inRec']:>9} "
                f"{r['shRdMB']:>7} {r['shRdRec']:>9} {r['shWrMB']:>7} "
                f"{r['shWrRec']:>9}  {r['name']}"
            )

    spark.stop()


if __name__ == "__main__":
    main()
