"""Bespoke census certification for `knn_mutual_label_blocked` at
replica scale (the `sql_recursive_cte` engine-side-checksum
convention).

The entry's own oracle ranks every in-block pair with a ROW_NUMBER
window — DuckDB materializes + sorts the full pair relation, which
exhausted >51 GB temp at 100× (measured standalone). This census
recomputes the SAME mutual-kNN graph pair-STREAMED: the block
self-join feeds a `arg_max(dst, [score, -dst], k)` hash aggregate
(state = one k-list per src, never the pair relation), the 3n edge
list self-joins for mutuality, and three exact integer checksums —
row count, Σ vec_id, Σ n_mutual — are compared against the engine's
distributed census. Tie-break parity: `arg_max` maximizes the
[score, -dst] DOUBLE list lexicographically = (cos DESC, dst ASC),
the oracle's exact order; vec_ids (< 2^53) are exact doubles.

Usage:
    python tools/census_knn.py [sf_dir]

Env: SPARK_GRAFT_VANILLA / SPARK_GRAFT_VANILLA_CORES /
SPARK_GRAFT_VANILLA_MEM / SPARK_GRAFT_DUCKDB_MEM /
SPARK_GRAFT_DUCKDB_THREADS as census_check (the session comes from
check_oracle's ``oracle_session``).
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from check_oracle import oracle_session  # noqa: E402
from watermill_kinesis_spark.operators.similarity import KNN_MUTUAL_K  # noqa: E402
from watermill_kinesis_spark.registry import all_specs  # noqa: E402

#: per-label top-k pass — ONE block's pair window at a time, with the
#: cosine PRE-PROJECTED in an inner subquery so the window's
#: materialized sort input is exactly (src, dst, score) = 24 B/row
#: (~11 GB at the 100× replica's 21.8k-max blocks, held in RAM by an
#: 80 GB memory limit). An all-blocks spelling sorts every block's
#: pairs at once (>51 GB temp); a per-label window that spells
#: ``list_cosine_similarity(a.emb, b.emb)`` directly in the window
#: ORDER BY is no better — DuckDB then materializes the
#: sort input WITH every column the order expression references,
#: i.e. two 64-double lists per pair row (~400 GB at the 100× block
#: sizes; measured as temp-disk exhaustion at 51 GB free). Identical
#: ranking semantics: the oracle's (cos DESC, dst ASC) ROW_NUMBER,
#: label by label.
PER_LABEL_SQL = f"""
INSERT INTO knn_edges
SELECT src, dst FROM (
    SELECT src, dst,
           ROW_NUMBER() OVER (PARTITION BY src
                              ORDER BY score DESC, dst) AS rk
    FROM (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               list_cosine_similarity(a.emb, b.emb) AS score
        FROM block a JOIN block b ON a.vec_id <> b.vec_id))
WHERE rk <= {KNN_MUTUAL_K}
"""

MUTUAL_CENSUS_SQL = """
WITH mutual AS (
    SELECT x.src, COUNT(*) AS n
    FROM knn_edges x JOIN knn_edges y ON x.src = y.dst AND x.dst = y.src
    GROUP BY x.src),
srcs AS (SELECT DISTINCT src FROM knn_edges)
SELECT CAST(COUNT(*) AS HUGEINT) AS n_rows,
       CAST(SUM(s.src) AS HUGEINT) AS sum_vec_id,
       CAST(SUM(COALESCE(m.n, 0)) AS HUGEINT) AS sum_n_mutual
FROM srcs s LEFT JOIN mutual m USING (src)
"""


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    spark = oracle_session("census-knn")

    from pyspark.sql import functions as F

    t0 = time.time()
    df = all_specs()["knn_mutual_label_blocked"].fn(spark, sf_dir)
    row = df.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n_rows"),
        F.sum("vec_id").cast("decimal(38,0)").alias("sum_vec_id"),
        F.sum("n_mutual").cast("decimal(38,0)").alias("sum_n_mutual"),
    ).collect()[0]
    engine = tuple(int(row[c]) for c in ("n_rows", "sum_vec_id", "sum_n_mutual"))
    engine_s = time.time() - t0

    con = duckdb.connect()
    if os.environ.get("SPARK_GRAFT_DUCKDB_MEM"):
        con.execute(f"SET memory_limit='{os.environ['SPARK_GRAFT_DUCKDB_MEM']}'")
    if os.environ.get("SPARK_GRAFT_DUCKDB_THREADS"):
        con.execute(f"SET threads={int(os.environ['SPARK_GRAFT_DUCKDB_THREADS'])}")
    con.execute(
        "CREATE OR REPLACE VIEW embeddings AS "
        f"SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    t0 = time.time()
    con.execute("CREATE TEMP TABLE knn_edges (src BIGINT, dst BIGINT)")
    labels = [
        r[0]
        for r in con.execute(
            "SELECT DISTINCT label FROM embeddings WHERE label IS NOT NULL"
            " ORDER BY label"
        ).fetchall()
    ]
    for lb in labels:
        con.execute(
            "CREATE OR REPLACE TEMP TABLE block AS "
            "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb "
            f"FROM embeddings WHERE label = {lb!r}"
        )
        con.execute(PER_LABEL_SQL)
        print(f"  label {lb}: edges total "
              f"{con.execute('SELECT COUNT(*) FROM knn_edges').fetchone()[0]}"
              f" ({time.time() - t0:.0f}s)", flush=True)
    orow = con.execute(MUTUAL_CENSUS_SQL).fetchone()
    oracle = tuple(int(v) for v in orow)
    oracle_s = time.time() - t0

    ok = engine == oracle
    print(
        f"{'PASS' if ok else 'FAIL'}  knn_mutual_label_blocked: "
        f"engine={engine} oracle={oracle} "
        f"(engine {engine_s:.1f}s, oracle {oracle_s:.1f}s)"
    )
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
