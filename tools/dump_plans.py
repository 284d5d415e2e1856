"""Dump .explain("formatted") for registry queries to text files.

Usage:
    python tools/dump_plans.py OUTDIR SUFFIX [name ...]

Writes OUTDIR/<name>_<SUFFIX>.txt for each query (default: the bench
HEADLINE set). Plans are built against $SPARK_GRAFT_SF_DIR (default
sf0.1) with the engine session — no execution, just planning — so this
is cheap and captures exactly what the optimizer will run.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from watermill_kinesis_spark.registry import queries  # noqa: E402
from watermill_kinesis_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    if not names:
        import bench

        names = bench.HEADLINE
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("dump-plans")
    qs = queries()
    for name in names:
        if name not in qs:
            print(f"skip {name}: not registered")
            continue
        try:
            df = qs[name](spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001
            plan = f"PLAN FAILED: {e!r}"
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
