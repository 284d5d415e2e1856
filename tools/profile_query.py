"""Per-stage profiler for registry queries (guide §1/§7: measure first).

Usage:
    python tools/profile_query.py name [name ...]

Runs each query twice (warm-up + measured) with the noop sink on the
engine session (``session.get_spark``), the measured run under its own
job group, then prints wall time plus a per-stage breakdown read from
the session's status store (``perfbench.trace.StageReader``): stage
wall, task count, executor run/cpu time and shuffle read/write bytes,
and the driver gap no stage covers. Stage names are not printed; map a
stage back to an operator by its order and shape.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    names = sys.argv[1:]
    from perfbench.trace import StageReader, stage_totals
    from watermill_kinesis_spark.registry import queries
    from watermill_kinesis_spark.session import get_spark

    spark = get_spark("profile_query")
    spark.sparkContext.setLogLevel("WARN")
    sc = spark.sparkContext
    reader = StageReader(spark)
    qs = queries()
    # warm the workers
    spark.range(0, 10_000, 1, sc.defaultParallelism).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    for name in names:
        fn = qs[name]
        sc.setJobGroup(f"warm-{name}", name)
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        group = f"profile-{name}"
        sc.setJobGroup(group, name)
        t0 = time.time()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        t1 = time.time()
        jobs, stages = reader.group(group)
        print(f"\n=== {name}: wall {t1 - t0:.3f}s, {jobs} jobs, "
              f"{len(stages)} stages ===")
        stages.sort(key=lambda s: s["end"] - s["start"], reverse=True)
        print(f"{'wall':>7} {'tasks':>5} {'run_s':>7} {'cpu_s':>7} "
              f"{'shR_kb':>8} {'shW_kb':>8}")
        for s in stages[:18]:
            print(f"{s['end'] - s['start']:7.3f} {s['tasks']:5d} "
                  f"{s['run_s']:7.3f} {s['cpu_s']:7.3f} "
                  f"{s['shuffle_read_mb'] * 1024:8.1f} "
                  f"{s['shuffle_write_mb'] * 1024:8.1f}")
        gap = stage_totals(stages, (t0, t1))["driver_gap_s"]
        print(f"driver gap {gap:.3f}s of query wall {t1 - t0:.3f}s "
              f"(planning, scheduling, time no stage covers)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
