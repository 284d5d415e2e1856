"""Per-stage profiler for registry queries (guide §1/§7: measure first).

Usage:
    python tools/profile_query.py name [name ...]

Runs each query twice (warm-up + measured) with the noop sink on the
engine session (UI enabled), then prints wall time plus a per-stage
breakdown from the UI REST API: stage wall, executor run/cpu time,
shuffle read/write bytes, task count, and the first line of the stage's
name so stages map back to operators.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    names = sys.argv[1:]
    from pyspark.sql import SparkSession

    from watermill_kinesis_spark.registry import queries
    from watermill_kinesis_spark.session import default_parallelism

    n = default_parallelism()
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("profile")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4099")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.codegen.maxFields", "256")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config(
            "spark.python.daemon.module", "watermill_kinesis_spark.fastdaemon"
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    qs = queries()
    # warm the workers
    spark.range(0, 10_000, 1, n).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    app_id = spark.sparkContext.applicationId
    base = f"http://localhost:4099/api/v1/applications/{app_id}"

    def fetch(path):
        with urllib.request.urlopen(base + path) as r:
            return json.loads(r.read())

    for name in names:
        fn = qs[name]
        # warm-up run
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        jobs0 = {j["jobId"] for j in fetch("/jobs")}
        t0 = time.perf_counter()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        jobs = [j for j in fetch("/jobs") if j["jobId"] not in jobs0]
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        stages = [s for s in fetch("/stages") if s["stageId"] in stage_ids]
        print(f"\n=== {name}: wall {wall:.3f}s, {len(jobs)} jobs, "
              f"{len(stages)} stages ===")
        rows = []
        for s in stages:
            if s["status"] == "SKIPPED":
                continue
            sub = s.get("submissionTime")
            comp = s.get("completionTime")
            rows.append(
                (
                    s["stageId"],
                    s["numCompleteTasks"],
                    (s.get("executorRunTime") or 0) / 1000.0,
                    (s.get("executorCpuTime") or 0) / 1e9,
                    (s.get("shuffleReadBytes") or 0),
                    (s.get("shuffleWriteBytes") or 0),
                    s["name"].splitlines()[0][:60],
                    sub,
                    comp,
                )
            )
        # wall per stage from submission/completion timestamps
        from datetime import datetime

        def ts(x):
            return (
                datetime.strptime(x[:23], "%Y-%m-%dT%H:%M:%S.%f").timestamp()
                if x
                else None
            )

        rows2 = []
        for r in rows:
            t_sub, t_comp = ts(r[7]), ts(r[8])
            sw = (t_comp - t_sub) if (t_sub and t_comp) else 0.0
            rows2.append((sw,) + r[:7])
        rows2.sort(reverse=True)
        print(f"{'wall':>7} {'stage':>6} {'tasks':>5} {'run_s':>7} "
              f"{'cpu_s':>7} {'shR_kb':>8} {'shW_kb':>8}  name")
        for sw, sid, nt, run, cpu, shr, shw, nm in rows2[:18]:
            print(f"{sw:7.3f} {sid:6d} {nt:5d} {run:7.3f} {cpu:7.3f} "
                  f"{shr/1024:8.1f} {shw/1024:8.1f}  {nm}")
        njobs_wall = sum(r[0] for r in rows2)
        print(f"sum stage wall {njobs_wall:.3f}s vs query wall {wall:.3f}s "
              f"(gap = driver/planning/gaps)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
