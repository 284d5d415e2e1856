"""Modern Spark-4 surface: the VARIANT semi-structured type and the
built-in DataSketches HLL aggregate family.

Both are engine capabilities a reference user gets "for free" by
switching to this engine — the reference's payloads are opaque bytes
(SURVEY.md §1.5); VARIANT is the idiomatic Spark 4 way to make such
payloads queryable without a fixed schema, and sketch aggregates are
the mergeable-state pattern behind its checkpointed counters at
warehouse scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from watermill_kinesis_spark.functions.exact import lcents
from watermill_kinesis_spark.registry import query
from watermill_kinesis_spark.sources.tables import load_table


@query(
    "variant_shred",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events GROUP BY event_type
    """,
    tags=("scalar", "json", "variant"),
)
def variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured round trip through the VARIANT type (Spark 4):
    each event re-serializes to a nested JSON document, parses into a
    VARIANT, and is then shredded back out with typed ``variant_get``
    paths — the open-schema payload pipeline (ingest JSON of unknown
    shape, query it with typed paths, let the engine keep the binary
    encoding columnar). The oracle computes the same aggregate from the
    raw columns, so a hash match proves the encode→VARIANT→typed-path
    round trip is lossless. All values are exact integers; at scale the
    parse and paths are codegen'd JVM expressions — VARIANT's binary
    form avoids re-parsing JSON text per path access (one parse, many
    typed gets), which is the scan-cost difference vs get_json_object
    chains."""
    ev = load_table(spark, sf_dir, "events")
    js = F.to_json(
        F.struct(
            F.col("event_type").alias("type"),
            F.struct(
                lcents("value").alias("value_cents"),
                F.get_json_object("props", "$.k").cast("bigint").alias("k"),
            ).alias("metrics"),
        )
    )
    v = F.parse_json(js)
    return (
        ev.withColumn("v", v)
        .select(
            F.expr("variant_get(v, '$.type', 'string')").alias("event_type"),
            F.expr("variant_get(v, '$.metrics.value_cents', 'bigint')").alias(
                "cents"
            ),
            F.expr("variant_get(v, '$.metrics.k', 'bigint')").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("sum_cents"),
            F.max("k").alias("max_k"),
        )
    )


@query(
    "hll_sketch_native",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_days,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_exact,
           1 AS union_within_bound
    FROM events GROUP BY event_type
    """,
    tags=("agg", "sketch", "streaming", "audit"),
)
def hll_sketch_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in DataSketches HLL: per-(event_type, day) user sketches
    merged to per-type totals with ``hll_union_agg`` — the native
    counterpart of the hand-rolled mergeable sketch in
    ``sketch_distinct_mergeable``. This is THE scale pattern for
    distinct counting: daily sketches are tiny (≤ ~1.5 KB each),
    mergeable across any partitioning/retention window, and the union
    is associative — a 100 TB pipeline stores sketches per partition
    and answers any-range distinct queries without rescanning raw data.

    Oracle-backed audit form (r7 VERDICT task 6, the
    ``hll_merge_accuracy_audit`` pattern): the estimate itself is not
    SQL-reproducible in DuckDB, so the row carries the exact per-type
    COUNT DISTINCT plus the verdict that the UNIONED estimate sits
    within ±5% (or ±1 for tiny types) — the estimate stays
    engine-side, the envelope crosses the compare, and a broken
    sketch/union path flips the verdict instantly."""
    ev = load_table(spark, sf_dir, "events")
    keyed = ev.select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.col("user_id").cast("string").alias("uid"),
    )
    daily = keyed.groupBy("event_type", "day").agg(
        F.expr("hll_sketch_agg(uid)").alias("sketch")
    )
    merged = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.expr("hll_sketch_estimate(hll_union_agg(sketch))").alias("est"),
    )
    exact = keyed.groupBy("event_type").agg(
        F.countDistinct("uid").cast("bigint").alias("n_users_exact")
    )
    slack = F.greatest(F.lit(1.0), F.col("n_users_exact") * F.lit(0.05))
    return exact.join(merged, "event_type").select(
        "event_type",
        "n_days",
        "n_users_exact",
        F.when(F.abs(F.col("est") - F.col("n_users_exact")) <= slack, 1)
        .otherwise(0)
        .alias("union_within_bound"),
    )


@query(
    "pandas_api_interface",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MAX(CAST(l_quantity AS BIGINT)) AS BIGINT) AS max_qty
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("api", "pandas-on-spark"),
)
def pandas_api_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pandas-API-on-Spark face (``pyspark.pandas``): the same
    engine tables driven with pandas idioms (``.groupby().agg()``),
    planned by Catalyst like any DataFrame query — a user migrating
    pandas ETL scripts gets the distributed engine without a rewrite.
    The round trip DataFrame → pandas-on-Spark → groupby → DataFrame
    is value-checked against the plain SQL oracle (exact integers)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("long").alias("qty")
    )
    psdf = li.pandas_api()
    agg = psdf.groupby("l_returnflag").agg(
        sum_qty=("qty", "sum"), n_rows=("qty", "count"), max_qty=("qty", "max")
    )
    out = agg.reset_index().to_spark()
    return out.select(
        "l_returnflag",
        F.col("sum_qty").cast("bigint"),
        F.col("n_rows").cast("bigint"),
        F.col("max_qty").cast("bigint"),
    )


@query(
    "bitmap_distinct_agg",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY event_type
    """,
    tags=("agg", "bitmap", "spark4", "modern"),
)
def bitmap_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting through Spark's bitmap aggregate family
    (``bitmap_bucket_number`` / ``bitmap_construct_agg`` /
    ``bitmap_or_agg`` / ``bitmap_count``, Spark 3.5+): per-bucket
    bitmaps build map-side (each 4 KB covers 32768 ids), OR-merge
    across partitions, and their popcounts sum to the exact distinct —
    the warehouse pattern for distinct counts that must be BOTH exact
    and re-aggregable (a materialized bitmap per (group, bucket) can
    answer any rollup later by re-ORing, which COUNT(DISTINCT) cannot).
    The two-level plan here IS that shape: construct per
    (event_type, bucket), OR-merge, popcount, sum. The oracle pins it
    to a plain COUNT(DISTINCT) — values must agree exactly."""
    ev = load_table(spark, sf_dir, "events")
    per_bucket = (
        ev.select(
            "event_type",
            F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
            F.col("user_id"),
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias(
                "bm"
            ),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return (
        per_bucket.groupBy("event_type")
        .agg(
            F.sum(F.expr("bitmap_count(bm)")).alias("n_users"),
            F.sum("n").alias("n_events"),
        )
        .select("event_type", "n_users", "n_events")
    )


@query(
    "sql_lateral_join",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(t.top_cents) AS BIGINT) AS sum_top2_cents
    FROM customer c, LATERAL (
        SELECT COALESCE(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)), 0)
                   AS top_cents
        FROM (SELECT o_totalprice
              FROM orders o
              WHERE o.o_custkey = c.c_custkey
              ORDER BY o.o_totalprice DESC, o.o_orderkey
              LIMIT 2) o
    ) t
    GROUP BY c.c_mktsegment
    """,
    tags=("join", "sql", "lateral", "spark4"),
)
def sql_lateral_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LATERAL correlated-subquery face (Spark 3.2+/4 SQL): per
    customer, the top-2 order totals via a correlated LATERAL subquery
    — the syntax users port from Postgres/DuckDB — rolled up per
    market segment. Catalyst DECORRELATES the lateral into a
    window-ranked join (no per-row re-execution), which is exactly why
    the face is safe at scale; the oracle runs the identical LATERAL
    spelling on DuckDB. Top-2 ties break on o_orderkey so both
    engines pick the same rows; money sums in exact cents."""
    return spark.sql(
        """
        SELECT c.c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(t.top_cents) AS BIGINT) AS sum_top2_cents
        FROM {customer} c, LATERAL (
            SELECT COALESCE(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)), 0)
                       AS top_cents
            FROM (SELECT o_totalprice, o_orderkey
                  FROM {orders} o
                  WHERE o.o_custkey = c.c_custkey
                  ORDER BY o.o_totalprice DESC, o_orderkey
                  LIMIT 2) o
        ) t
        GROUP BY c.c_mktsegment
        """,
        customer=load_table(spark, sf_dir, "customer"),
        orders=load_table(spark, sf_dir, "orders"),
    )
