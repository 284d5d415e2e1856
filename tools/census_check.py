"""Engine-side census certification for instrument-collect-class
entries (SCALE.md r10 precedent: sessionize_batch / dedup_simhash /
window_count_distinct). When an entry's 100x output is itself
corpus-scale, the gate harness's ``toPandas()`` OOMs the 1 GiB
instrument DRIVER — an instrument limit, not an engine defect. This
tool certifies the VALUES without any driver collect: the Spark result
is reduced engine-side to an exact integer census — row count, and per
column a null count plus SUM(value) for integer/decimal columns or
SUM(octet_length) for string/binary columns (DECIMAL(38,0)/HUGEINT,
order-insensitive, bit-exact at any parallelism) — and DuckDB computes
the IDENTICAL census over the entry's own oracle SQL. A value
divergence in any covered column flips a sum; what's lost vs the full
hash compare is only cross-column row pairing and float columns
(skipped, reported as such).

Usage:
    python tools/census_check.py <sf_dir> [name ...]

Env: SPARK_GRAFT_VANILLA / SPARK_GRAFT_VANILLA_CORES /
SPARK_GRAFT_VANILLA_MEM pick the session exactly as check_oracle does
(its ``oracle_session``); SPARK_GRAFT_DUCKDB_MEM /
SPARK_GRAFT_DUCKDB_THREADS bound the DuckDB side.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from check_oracle import oracle_session  # noqa: E402
from watermill_kinesis_spark.registry import all_specs  # noqa: E402
from watermill_kinesis_spark.sources.tables import TABLE_NAMES  # noqa: E402


def census_exprs_spark(df):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    exprs = [F.count(F.lit(1)).cast("decimal(38,0)").alias("__n")]
    covered, skipped = [], []
    for f in df.schema.fields:
        c = f.name
        exprs.append(F.count(F.col(c)).cast("decimal(38,0)").alias(f"nn_{c}"))
        if isinstance(f.dataType, (T.LongType, T.IntegerType, T.ShortType,
                                   T.ByteType, T.DecimalType, T.BooleanType)):
            col = F.col(c)
            if isinstance(f.dataType, T.BooleanType):
                col = col.cast("int")
            exprs.append(F.sum(col.cast("decimal(38,0)")).alias(f"s_{c}"))
            covered.append(c)
        elif isinstance(f.dataType, (T.StringType, T.BinaryType)):
            exprs.append(
                F.sum(F.octet_length(F.col(c)).cast("decimal(38,0)")).alias(f"s_{c}")
            )
            covered.append(c)
        else:
            skipped.append(c)
    return exprs, covered, skipped


def census_sql_duckdb(oracle_sql, desc):
    parts = ["CAST(COUNT(*) AS HUGEINT) AS __n"]
    for name, kind in desc:
        parts.append(f'CAST(COUNT("{name}") AS HUGEINT) AS "nn_{name}"')
        if kind == "int":
            parts.append(f'CAST(SUM(CAST("{name}" AS HUGEINT)) AS HUGEINT) AS "s_{name}"')
        elif kind == "str":
            # duckdb octet_length is BLOB-only; VARCHAR->BLOB keeps bytes
            parts.append(
                f'CAST(SUM(CAST(octet_length(CAST("{name}" AS BLOB)) AS HUGEINT))'
                f' AS HUGEINT) AS "s_{name}"'
            )
    return f"WITH __res AS ({oracle_sql}) SELECT {', '.join(parts)} FROM __res"


def main() -> int:
    argv = sys.argv[1:]
    sf_dir = argv[0] if argv and "/" in argv[0] else "/root/testdata/sf0.01"
    names = [a for a in argv if "/" not in a]

    spark = oracle_session("census-check")
    con = duckdb.connect()
    # SPARK_GRAFT_DUCKDB_MEM: raise the oracle's memory ceiling for
    # pair-dense recomputes whose spill exceeds the disk budget (the
    # knn_mutual 100x wall was DuckDB temp, not the engine) — an
    # instrument knob, it cannot change values
    if os.environ.get("SPARK_GRAFT_DUCKDB_MEM"):
        con.execute(
            f"SET memory_limit='{os.environ['SPARK_GRAFT_DUCKDB_MEM']}'"
        )
    if os.environ.get("SPARK_GRAFT_DUCKDB_THREADS"):
        con.execute(
            f"SET threads={int(os.environ['SPARK_GRAFT_DUCKDB_THREADS'])}"
        )
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    from pyspark.sql import types as T

    specs = all_specs()
    n_pass = n_fail = 0
    for name in names:
        spec = specs[name]
        t0 = time.time()
        try:
            df = spec.fn(spark, sf_dir)
            exprs, covered, skipped = census_exprs_spark(df)
            row = df.agg(*exprs).collect()[0]
            engine_s = time.time() - t0
        except Exception:
            print(f"FAIL  {name}: spark census raised")
            traceback.print_exc()
            n_fail += 1
            continue
        if spec.oracle is None:
            print(
                f"ROWS  {name}: rows={int(row['__n'])} engine-side "
                f"({engine_s:.1f}s; no oracle)"
            )
            n_pass += 1
            continue
        # column kinds from the SPARK schema (both results share it)
        desc = []
        for f in df.schema.fields:
            if isinstance(f.dataType, (T.LongType, T.IntegerType, T.ShortType,
                                       T.ByteType, T.DecimalType, T.BooleanType)):
                desc.append((f.name, "int"))
            elif isinstance(f.dataType, (T.StringType, T.BinaryType)):
                desc.append((f.name, "str"))
            else:
                desc.append((f.name, "skip"))
        t0 = time.time()
        try:
            osql = census_sql_duckdb(spec.oracle, desc)
            orow = con.execute(osql).fetchdf().iloc[0]
        except Exception:
            print(f"FAIL  {name}: oracle census raised")
            traceback.print_exc()
            n_fail += 1
            continue
        oracle_s = time.time() - t0
        msgs = []
        for key in row.asDict():
            sv = row[key]
            ov = orow[key]
            sv = None if sv is None else int(sv)
            try:
                ov = None if ov is None or str(ov) == "nan" else int(ov)
            except (TypeError, ValueError):
                ov = None
            if sv != ov:
                msgs.append(f"{key}: spark={sv} oracle={ov}")
        if msgs:
            print(f"FAIL  {name}: " + " | ".join(msgs[:4]))
            n_fail += 1
        else:
            print(
                f"PASS  {name}: census-exact rows={int(row['__n'])} "
                f"cols_covered={len(covered)} cols_skipped={skipped} "
                f"(engine {engine_s:.1f}s, oracle {oracle_s:.1f}s)"
            )
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
