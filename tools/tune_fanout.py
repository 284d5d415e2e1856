"""Measure a query's wall time as a function of the pre-explode /
pre-kernel fan-out partition count. Monkeypatches
``tables.adaptive_partitions`` — the sites resolve it at call time —
to force each candidate count, timing best-of-N noop-sink runs per
point. The ``geo`` point runs the rule itself and is labelled with the
count(s) it returned at the query's sites during the timed runs.

Usage:
    python tools/tune_fanout.py q1 [q2 ...]
    SPARK_GRAFT_TUNE_PARTS=geo,2,4,8,16,32  (default; 'geo' = the rule)
    SPARK_GRAFT_TUNE_RUNS=3
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    names = sys.argv[1:]
    runs = int(os.environ.get("SPARK_GRAFT_TUNE_RUNS", "3"))
    raw = os.environ.get("SPARK_GRAFT_TUNE_PARTS", "geo,2,4,8,16,32")
    points = [p if p == "geo" else int(p) for p in raw.split(",")]

    from watermill_kinesis_spark.registry import queries
    from watermill_kinesis_spark.session import get_spark
    from watermill_kinesis_spark.sources import tables

    spark = get_spark("tune_fanout")
    qs = queries()
    spark.range(0, 10_000, 1, 32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    geo = tables.adaptive_partitions
    used: list[int] = []

    def recorded_geo(*a, **k):
        n = geo(*a, **k)
        used.append(n)
        return n

    for name in names:
        fn = qs[name]
        # warm the plan shape once per query
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        for p in points:
            tables.adaptive_partitions = (
                recorded_geo if p == "geo" else (lambda *a, _p=p, **k: _p)
            )
            used.clear()
            try:
                best = float("inf")
                for _ in range(runs):
                    t0 = time.perf_counter()
                    fn(spark, SF_DIR).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    best = min(best, time.perf_counter() - t0)
                # the counts the rule returned at this query's sites
                label = p if p != "geo" else "geo=" + (
                    "/".join(str(n) for n in sorted(set(used))) or "none"
                )
                print(f"{name:32s} parts={label!s:8} best={best:.3f}s", flush=True)
            finally:
                tables.adaptive_partitions = geo
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
