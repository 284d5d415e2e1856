"""Relational operator surface (SURVEY.md §2-C, Layer B).

The reference has no relational operators (SURVEY.md §2-B — the 9 Go
source files contain no join/agg/window code); this layer is what makes
the engine's message/event data *queryable*. Everything here is
declarative DataFrame API — Catalyst gets full freedom for pushdown,
pruning, join selection, and AQE re-planning, which is exactly what
survives a 100× scale-up.

Scale notes per operator live in the docstrings. Shared discipline:
- dimension tables (region/nation/supplier/part) are broadcast —
  no shuffle of the fact side;
- fact-fact joins shuffle on the join key once; AQE handles skew;
- all money aggregates are exact-decimal (functions/exact.py) so
  results are reproducible at any parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from watermill_kinesis_spark.functions.exact import (
    davg,
    dsum,
    dsum_expr,
    factor,
    lcents,
    lfactor,
    lsum,
    money,
    sql_davg,
    sql_dsum,
    sql_factor,
    sql_money,
)
from watermill_kinesis_spark.registry import query
from watermill_kinesis_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# scans / projection / filter


@query(
    "project_filter",
    oracle=f"""
    SELECT l_orderkey, l_linenumber, l_quantity,
           CAST({sql_money('l_extendedprice')} * {sql_factor('l_discount', '-')} AS DOUBLE) AS revenue,
           CAST(year(l_shipdate) AS INT) AS ship_year
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_quantity < 25
    """,
    tags=("scan", "filter"),
)
def project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + predicate — both must reach the parquet scan
    (`PushedFilters`/`ReadSchema` in the plan); at 100 TB this is the
    difference between scanning 2 columns of 1 year vs 11 columns of
    everything."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_quantity") < 25)
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            (
                (lcents("l_extendedprice") * lfactor("l_discount", -1)).cast(
                    "double"
                )
                / 10000
            ).alias("revenue"),
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
    )


# ---------------------------------------------------------------------------
# aggregation


@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base_price,
           CAST(SUM({sql_money('l_extendedprice')} * {sql_factor('l_discount', '-')}) AS DOUBLE) AS sum_disc_price,
           CAST(SUM({sql_money('l_extendedprice')} * {sql_factor('l_discount', '-')} * {sql_factor('l_tax', '+')}) AS DOUBLE) AS sum_charge,
           {sql_davg('l_quantity')} AS avg_qty,
           {sql_davg('l_extendedprice')} AS avg_price,
           {sql_davg('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg",),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: wide multi-aggregate after a pushed-down range
    filter. Map-side partial aggregation means the shuffle carries only
    |groups|×|aggs| rows — constant in data size."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp_ntz")
    )
    disc_price = lcents("l_extendedprice") * lfactor("l_discount", -1)
    charge = disc_price * lfactor("l_tax", +1)
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_base_price"),
        lsum(disc_price, 4).alias("sum_disc_price"),
        lsum(charge, 6).alias("sum_charge"),
        davg("l_quantity").alias("avg_qty"),
        davg("l_extendedprice").alias("avg_price"),
        davg("l_discount").alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "agg_hash",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n,
           {sql_dsum('value')} AS sum_value,
           {sql_davg('value')} AS avg_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
    tags=("agg",),
)
def agg_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash aggregation with the standard agg family over the stream
    stand-in table."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value").alias("sum_value"),
        davg("value").alias("avg_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "agg_distinct",
    oracle="""
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(DISTINCT o_orderpriority) AS n_priorities,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("agg",),
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (expand + two-phase shuffle under the
    hood; for approximate at scale see approx_distinct)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "approx_distinct",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_exact,
           CAST(COUNT(*) AS BIGINT) AS n,
           1 AS approx_within_bound
    FROM events GROUP BY event_type
    """,
    tags=("agg", "approx", "sketch"),
)
def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct — the 100 TB path: no expand, no second
    shuffle over raw rows, fixed-size sketches merge associatively.
    Audited the sketch-audit way (same pattern as
    ``hll_accuracy_audit``, which covers the separate DataSketches HLL
    face): the engine-specific estimate runs beside the exact COUNT
    DISTINCT and never crosses the compare — the row carries exact
    counts plus the VERDICT that the rsd=0.01 estimate landed within
    ±5% (±3 absolute for tiny groups), which the oracle pins to 1.
    Retires the registry's one historically rows-only-probed entry
    (r1 ``no_oracle``).

    The exact and approx legs are SEPARATE aggregates joined on the
    group key (broadcast — |event types| rows): fused into one
    aggregate, Spark's distinct rewrite plans an Expand whose
    partial-aggregation buffer carries EVERY aggregate's state on
    EVERY leg's keys — the rsd=0.01 HLL++ register array (~tens of
    KB) allocated per (event_type, user_id) distinct key, which is
    O(distinct pairs × sketch bytes) heap and OOM'd the 1 GiB
    replica-sweep executor at 150k users (r12 100× sweep find). Split,
    the distinct leg's buffer is counters only and the sketch leg
    keeps one register array per GROUP — the fixed-size promise the
    docstring always claimed."""
    ev = load_table(spark, sf_dir, "events")
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users_exact"),
        F.count(F.lit(1)).alias("n"),
    )
    approx = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("est")
    )
    # eqNullSafe: a NULL event_type group survives GROUP BY on both
    # legs but a plain INNER join key would drop it — the fused
    # aggregate (and the oracle's GROUP BY) keep it, so the split
    # must too (latent until the generator emits NULL event_types)
    agg = exact.join(
        F.broadcast(approx),
        exact["event_type"].eqNullSafe(approx["event_type"]),
    ).drop(approx["event_type"])
    slack = F.greatest(F.lit(3.0), F.col("n_users_exact") * F.lit(0.05))
    return agg.select(
        "event_type",
        "n_users_exact",
        "n",
        F.when(F.abs(F.col("est") - F.col("n_users_exact")) <= slack, 1)
        .otherwise(0)
        .alias("approx_within_bound"),
    )


@query(
    "rollup_agg",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n, {sql_dsum('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("agg", "grouping-sets"),
)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals via ROLLUP grouping sets."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), dsum("l_quantity").alias("sum_qty")
    )


@query(
    "cube_agg",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n, {sql_dsum('o_totalprice')} AS sum_total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("agg", "grouping-sets"),
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All grouping-set combinations via CUBE."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), dsum("o_totalprice").alias("sum_total")
    )


@query(
    "pivot_agg",
    oracle="""
    SELECT user_id,
           COUNT(*) FILTER (event_type = 'click')    AS n_click,
           COUNT(*) FILTER (event_type = 'view')     AS n_view,
           COUNT(*) FILTER (event_type = 'purchase') AS n_purchase,
           COUNT(*) FILTER (event_type = 'signup')   AS n_signup,
           COUNT(*) FILTER (event_type = 'error')    AS n_error
    FROM events
    GROUP BY user_id
    """,
    tags=("agg", "pivot"),
)
def pivot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event types into per-user columns. Explicit value list ⇒
    single pass, no extra job to discover pivot values (matters on a
    100 TB fact table)."""
    ev = load_table(spark, sf_dir, "events")
    kinds = ["click", "view", "purchase", "signup", "error"]
    p = (
        ev.groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
    )
    out = p.select(
        "user_id",
        *[F.coalesce(F.col(k), F.lit(0)).alias(f"n_{k}") for k in kinds],
    )
    return out


# ---------------------------------------------------------------------------
# joins


@query(
    "join_inner",
    oracle=f"""
    SELECT c.c_nationkey AS nationkey,
           COUNT(*) AS n_orders,
           {sql_dsum('o.o_totalprice')} AS sum_total
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey
    """,
    tags=("join",),
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim equi-join + aggregate. customer is small relative to
    orders ⇒ Catalyst broadcasts it (verify in plan); orders never
    shuffles for the join."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(c.c_nationkey.alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("sum_total"),
        )
    )


@query(
    "join_left",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           COUNT(o.o_orderkey) AS n_orders,
           COALESCE({sql_dsum('o.o_totalprice')}, 0.0) AS sum_total
    FROM customer c LEFT JOIN orders o
      ON o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
    GROUP BY c.c_custkey, c.c_name
    """,
    tags=("join",),
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with no matching orders."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(dsum("o_totalprice"), F.lit(0.0)).alias("sum_total"),
        )
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
    """,
    tags=("join",),
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI = EXISTS: ships only the join key of the probe side,
    no row duplication — the right way to filter 100 TB by membership."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "P")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
    """,
    tags=("join",),
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI = NOT EXISTS — set-difference without a distinct."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "P")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )


@query(
    "join_broadcast",
    oracle=f"""
    SELECT r.r_name AS region, n.n_name AS nation,
           COUNT(*) AS n_suppliers,
           {sql_dsum('s.s_acctbal')} AS sum_acctbal
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
    tags=("join", "broadcast"),
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast of the dimension chain (nation→region): zero
    shuffle on the probe side regardless of its size."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            dsum("s_acctbal").alias("sum_acctbal"),
        )
    )


@query(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey,
           CAST(SUM({sql_money('l.l_extendedprice')} * {sql_factor('l.l_discount', '-')}) AS DOUBLE) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
    tags=("join", "agg", "topk"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → fact join → agg → top-k.
    The limit is pushed into a TakeOrderedAndProject — no global sort."""
    c = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp_ntz")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp_ntz")
    )
    rev = lcents("l_extendedprice") * lfactor("l_discount", -1)
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(lsum(rev, 4).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(SUM({sql_money('l.l_extendedprice')} * {sql_factor('l.l_discount', '-')}) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
    tags=("join", "agg"),
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: five-way join with a region filter that prunes
    through broadcast dims; only the two fact tables shuffle."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    rev = lcents("l_extendedprice") * lfactor("l_discount", -1)
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(lsum(rev, 4).alias("revenue"))
    )


@query(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT CAST(SUM({sql_money('l_extendedprice')} * {sql_money('l_discount')}) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.04 AND 0.06
      AND l_quantity < 24
    """,
    tags=("scan", "agg"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-agg, fully pushed down; the
    canonical 'is the scan efficient' benchmark."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.04)
        & (F.col("l_discount") <= 0.06)
        & (F.col("l_quantity") < 24)
    ).agg(
        lsum(lcents("l_extendedprice") * lcents("l_discount"), 4).alias("revenue")
    )


# ---------------------------------------------------------------------------
# windows / sort / top-k


@query(
    "window_rank",
    oracle="""
    SELECT * FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               RANK() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        FROM orders)
    WHERE rnk <= 5
    """,
    tags=("window",),
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window function with a deterministic tie-break."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.rank().over(w).alias("rnk"),
        )
        .where(F.col("rnk") <= 5)
    )


@query(
    "window_running",
    oracle=f"""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) OVER (
               PARTITION BY l_suppkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
    FROM lineitem
    WHERE l_suppkey < 10
    """,
    tags=("window",),
)
def window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (cumulative) aggregate over an event-ordered frame; the
    ORDER BY includes unique keys so every prefix sum is well-defined."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_suppkey") < 10)
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum(F.col("l_quantity").cast("decimal(12,2)"))
        .over(w)
        .cast("double")
        .alias("running_qty"),
    )


@query(
    "topk_per_group",
    oracle="""
    SELECT * FROM (
        SELECT c_mktsegment, c_custkey, c_acctbal,
               ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                  ORDER BY c_acctbal DESC, c_custkey) AS rn
        FROM customer)
    WHERE rn <= 3
    """,
    tags=("window", "topk"),
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via row_number — Spark's WindowGroupLimit pushes
    the k-limit into the shuffle, so only k rows per group survive the
    exchange (critical at scale)."""
    c = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        c.select(
            "c_mktsegment",
            "c_custkey",
            "c_acctbal",
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") <= 3)
    )


@query(
    "sort_limit_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
    tags=("sort", "topk"),
)
def sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: ORDER BY + LIMIT compiles to TakeOrderedAndProject
    (per-partition heap + driver merge), never a full sort."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# set operations


@query(
    "set_union",
    oracle="""
    SELECT c_custkey AS custkey FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderpriority = '1-URGENT')
    UNION
    SELECT c_custkey AS custkey FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderstatus = 'P')
    """,
    tags=("setop",),
)
def set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of two membership sets."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    urgent = c.join(
        o.where(F.col("o_orderpriority") == "1-URGENT"),
        c.c_custkey == o.o_custkey,
        "left_semi",
    ).select(F.col("c_custkey").alias("custkey"))
    pending = c.join(
        o.where(F.col("o_orderstatus") == "P"),
        c.c_custkey == o.o_custkey,
        "left_semi",
    ).select(F.col("c_custkey").alias("custkey"))
    return urgent.union(pending).distinct()


@query(
    "set_except",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    EXCEPT ALL
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    tags=("setop",),
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — multiset difference with multiplicity preserved."""
    o = load_table(spark, sf_dir, "orders")
    left = o.where(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    right = o.where(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    return left.exceptAll(right)


@query(
    "set_intersect",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT ALL
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    tags=("setop",),
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — multiset intersection."""
    o = load_table(spark, sf_dir, "orders")
    left = o.where(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    right = o.where(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    return left.intersectAll(right)


# ---------------------------------------------------------------------------
# scalar functions


@query(
    "scalar_string_date_math",
    oracle="""
    SELECT o_orderkey,
           upper(o_orderstatus) AS status_u,
           substr(o_orderpriority, 1, 1) AS prio_code,
           length(o_orderpriority) AS prio_len,
           replace(o_orderpriority, '-', '_') AS prio_repl,
           concat(o_orderstatus, ':', o_orderpriority) AS status_prio,
           CAST(year(o_orderdate) AS INT) AS y,
           CAST(month(o_orderdate) AS INT) AS m,
           CAST(day(o_orderdate) AS INT) AS d,
           o_orderkey % 7 AS key_mod,
           abs(o_totalprice - 100000.0) AS dist_100k,
           CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS price_kilo,
           round(o_totalprice, 1) AS price_r1,
           sqrt(o_totalprice) AS price_sqrt
    FROM orders
    WHERE o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '5-%'
    """,
    tags=("scalar",),
)
def scalar_string_date_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar function family (string/date/math) — all JVM built-ins
    inside whole-stage codegen; chosen for cross-engine bit-identical
    semantics (sqrt is IEEE-exact, round is half-away-from-zero in both)."""
    o = load_table(spark, sf_dir, "orders")
    return o.where(
        F.col("o_orderpriority").like("1-%") | F.col("o_orderpriority").like("5-%")
    ).select(
        "o_orderkey",
        F.upper("o_orderstatus").alias("status_u"),
        F.substring("o_orderpriority", 1, 1).alias("prio_code"),
        F.length("o_orderpriority").alias("prio_len"),
        F.replace(F.col("o_orderpriority"), F.lit("-"), F.lit("_")).alias("prio_repl"),
        F.concat(F.col("o_orderstatus"), F.lit(":"), F.col("o_orderpriority")).alias(
            "status_prio"
        ),
        F.year("o_orderdate").cast("int").alias("y"),
        F.month("o_orderdate").cast("int").alias("m"),
        F.dayofmonth("o_orderdate").cast("int").alias("d"),
        (F.col("o_orderkey") % 7).alias("key_mod"),
        F.abs(F.col("o_totalprice") - 100000.0).alias("dist_100k"),
        F.floor(F.col("o_totalprice") / 1000.0).alias("price_kilo"),
        F.round(F.col("o_totalprice"), 1).alias("price_r1"),
        F.sqrt("o_totalprice").alias("price_sqrt"),
    )


@query(
    "case_when_bucketing",
    oracle=f"""
    SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
                WHEN c_acctbal < 3000 THEN 'low'
                WHEN c_acctbal < 7000 THEN 'mid'
                ELSE 'high' END AS balance_band,
           COUNT(*) AS n,
           {sql_dsum('c_acctbal')} AS sum_bal
    FROM customer
    GROUP BY 1
    """,
    tags=("scalar", "agg"),
)
def case_when_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional bucketing + aggregate (CASE WHEN)."""
    c = load_table(spark, sf_dir, "customer")
    band = (
        F.when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") < 3000, "low")
        .when(F.col("c_acctbal") < 7000, "mid")
        .otherwise("high")
    )
    return c.groupBy(band.alias("balance_band")).agg(
        F.count(F.lit(1)).alias("n"), dsum("c_acctbal").alias("sum_bal")
    )


@query(
    "json_extract_props",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    GROUP BY event_type
    """,
    tags=("scalar", "json"),
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction from the payload-like ``props`` column —
    the envelope-decode analogue for structured payloads."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )
