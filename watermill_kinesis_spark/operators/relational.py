"""Relational operator surface (SURVEY.md §2-C, Layer B).

The reference has no relational operators (SURVEY.md §2-B — the 9 Go
source files contain no join/agg/window code); this layer is what makes
the engine's message/event data *queryable*: scans, aggregates, joins
(inner/semi/anti/outer, as-of, interval, null-safe), the TPC-H query
shapes adapted to the driver's star schema (no ``partsupp`` table
exists, so Q2/Q11/Q16/Q20 are re-expressed through the ``lineitem``
part↔supplier bridge and ``s_acctbal``/``p_retailprice`` stand-ins),
subquery patterns, grouping sets, window analytics and time-RANGE
frames, reshaping and change-log compaction, plus the table-level
aggregates and audits built on them (mode, argmax, bitwise and moment
aggregates, histograms, collation, merge/upsert, table diffs,
referential integrity, Pareto frontier, RFM, basket lift, revenue
waterfall). Everything here is
declarative DataFrame API — Catalyst gets full freedom for pushdown,
pruning, join selection, and AQE re-planning, which is exactly what
survives a 100× scale-up.

Scale notes per operator live in the docstrings. Shared discipline:
- dimension tables (region/nation/supplier/part) are broadcast —
  no shuffle of the fact side;
- fact-fact joins shuffle on the join key once; AQE handles skew;
- correlated subqueries become groupBy+join (one shuffle, no
  nested-loop), the plan Catalyst would de-correlate to anyway;
- all money aggregates are exact-decimal (functions/exact.py) so
  results are reproducible at any parallelism; other float aggregates
  take exact integer/cent arithmetic or correctly-rounded float paths;
- every ORDER BY ends in a unique-key tie break, and hashes stand in
  for randomness, so results are engine- and run-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from watermill_kinesis_spark.functions.exact import (
    davg,
    dsum,
    lcents,
    lfactor,
    lsum,
    money,
    sql_davg,
    sql_dsum,
    sql_factor,
    sql_money,
)
from watermill_kinesis_spark.functions.localrel import local_relation
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


# ---------------------------------------------------------------------------
# subquery patterns, HAVING, disjunctive pushdown, further TPC-H shapes


@query(
    "scan_parquet",
    oracle="""
    SELECT r_regionkey, r_name FROM region
    """,
    tags=("scan",),
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bare columnar scan with projection — the checklist's atom; the
    plan must show only ReadSchema's two columns reaching the scan."""
    return load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")


@query(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
      AND o.o_orderdate <  TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_quantity > 45)
    GROUP BY o_orderpriority
    """,
    tags=("join", "subquery"),
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS with a correlated row-level predicate
    (heavy-line orders; the testdata lacks commit/receipt dates) — a
    semi-join whose probe side is pre-filtered row-locally, so the
    join input is already reduced before any shuffle."""
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp_ntz"))
    )
    late = load_table(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 45)
    return (
        o.join(late, o.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "scalar_subquery_above_avg",
    oracle=f"""
    SELECT c_mktsegment,
           COUNT(*) AS n_rich,
           {sql_dsum('c_acctbal')} AS sum_bal
    FROM customer
    WHERE c_acctbal > (SELECT {sql_davg('c_acctbal')} FROM customer)
    GROUP BY c_mktsegment
    """,
    tags=("subquery", "agg"),
)
def scalar_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery: customers above the global average
    balance. Spark evaluates the subquery once and broadcasts the
    scalar — no per-row recomputation."""
    c = load_table(spark, sf_dir, "customer")
    avg_bal = c.agg(davg("c_acctbal").alias("a"))
    return (
        c.join(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("a"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rich"),
            dsum("c_acctbal").alias("sum_bal"),
        )
    )


@query(
    "having_filter",
    oracle=f"""
    SELECT o_custkey, COUNT(*) AS n_orders, {sql_dsum('o_totalprice')} AS sum_spend
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 12
    """,
    tags=("agg",),
)
def having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation predicate (HAVING) — filters groups, not rows;
    runs after the partial/final aggregate so the shuffle still carries
    only group summaries."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("sum_spend"),
        )
        .where(F.col("n_orders") >= 12)
    )


@query(
    "q12_shipmode_case",
    oracle="""
    SELECT l.l_linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l.l_linestatus
    """,
    tags=("join", "agg"),
)
def q12_shipmode_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional aggregation (CASE inside SUM) after
    a fact-fact join with row-local predicates pushed to the scan
    (linestatus stands in for shipmode, absent from the testdata)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias(
                "high_line_count"
            ),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias(
                "low_line_count"
            ),
        )
    )


@query(
    "q14_promo_effect",
    oracle=f"""
    SELECT 100.0 * CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%'
                   THEN {sql_money('l.l_extendedprice')} * {sql_factor('l.l_discount', '-')}
                   ELSE CAST(0 AS DECIMAL(16,4)) END) AS DOUBLE)
           / CAST(SUM({sql_money('l.l_extendedprice')} * {sql_factor('l.l_discount', '-')}) AS DOUBLE)
           AS promo_revenue_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
      AND l.l_shipdate <  TIMESTAMP '1996-10-01'
    """,
    tags=("join", "agg"),
)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: broadcast dim join + ratio of conditional to
    total revenue, all in exact decimal until the final division."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp_ntz"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = lcents("l_extendedprice") * lfactor("l_discount", -1)
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(
        F.lit(0).cast("bigint")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            # exact long sums; convert each to natural units in double
            # BEFORE dividing — the same op order as the oracle's
            # CAST(SUM(decimal) AS DOUBLE) / CAST(SUM(decimal) AS DOUBLE),
            # so the quotient is bit-identical
            (
                F.lit(100.0)
                * (F.sum(promo).cast("double") / F.lit(1e4))
                / (F.sum(rev).cast("double") / F.lit(1e4))
            ).alias("promo_revenue_pct")
        )
    )


@query(
    "q18_large_orders",
    oracle=f"""
    SELECT c.c_custkey, o.o_orderkey, o.o_orderdate,
           {sql_money('o.o_totalprice')} AS total_price,
           {sql_dsum('l.l_quantity')} AS sum_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 150)
    GROUP BY c.c_custkey, o.o_orderkey, o.o_orderdate, {sql_money('o.o_totalprice')}
    ORDER BY total_price DESC, o.o_orderkey
    LIMIT 20
    """,
    tags=("join", "subquery", "topk"),
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN over a grouped-HAVING subquery (semi-join
    against an aggregate), then a three-way join and top-k."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("q"))
        .where(F.col("q") > 150)
        .select("l_orderkey")
    )
    o = load_table(spark, sf_dir, "orders").join(
        big, F.col("o_orderkey") == big.l_orderkey, "left_semi"
    )
    c = load_table(spark, sf_dir, "customer")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            money("o_totalprice").alias("total_price"),
        )
        .agg(dsum("l_quantity").alias("sum_qty"))
        .orderBy(F.desc("total_price"), F.asc("o_orderkey"))
        .limit(20)
    )


@query(
    "q19_disjunctive_pushdown",
    oracle=f"""
    SELECT CAST(SUM({sql_money('l.l_extendedprice')} * {sql_factor('l.l_discount', '-')}) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity BETWEEN 20 AND 30)
    """,
    tags=("join", "scan"),
)
def q19_disjunctive_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs join predicate. Catalyst extracts
    the common l_quantity range [1,30] as a pushable scan filter while
    the disjunction evaluates post-join — both halves visible in the
    plan."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 35) & F.col("l_quantity").between(20, 30))
    )
    rev = lcents("l_extendedprice") * lfactor("l_discount", -1)
    return (
        li.join(F.broadcast(p), p.p_partkey == li.l_partkey)
        .where(cond)
        .agg(lsum(rev, 4).alias("revenue"))
    )


@query(
    "q22_global_filter",
    oracle=f"""
    WITH avg_pos AS (
        SELECT {sql_davg('c_acctbal')} AS a FROM customer WHERE c_acctbal > 0.0)
    SELECT substr(c.c_name, 10, 2) AS cntry,
           COUNT(*) AS numcust,
           {sql_dsum('c.c_acctbal')} AS totacctbal
    FROM customer c, avg_pos
    WHERE c.c_acctbal > avg_pos.a
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderstatus = 'P')
    GROUP BY substr(c.c_name, 10, 2)
    """,
    tags=("subquery", "agg"),
)
def q22_global_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar subquery + anti-join (above-average
    balance, no pending orders — every testdata customer has *some*
    order, so the status filter keeps the anti-join non-trivial)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "P")
    avg_pos = c.where(F.col("c_acctbal") > 0.0).agg(davg("c_acctbal").alias("a"))
    return (
        c.join(F.broadcast(avg_pos))
        .where(F.col("c_acctbal") > F.col("a"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.substring("c_name", 10, 2).alias("cntry"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
    )


@query(
    "cross_join_small",
    oracle="""
    SELECT r.r_name AS region, n.n_name AS nation
    FROM region r CROSS JOIN nation n
    """,
    tags=("join",),
)
def cross_join_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit Cartesian product of two (small) dims — broadcast
    nested loop, no shuffle."""
    r = load_table(spark, sf_dir, "region").select(F.col("r_name").alias("region"))
    n = load_table(spark, sf_dir, "nation").select(F.col("n_name").alias("nation"))
    return r.crossJoin(F.broadcast(n))


@query(
    "distinct_rows",
    oracle="""
    SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
    """,
    tags=("agg",),
)
def distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT = group-by-all-columns; partial aggregation collapses
    duplicates map-side before the shuffle."""
    return load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_orderpriority"
    ).distinct()


@query(
    "join_skew_salted",
    oracle=f"""
    SELECT e.event_type,
           COUNT(*) AS n,
           {sql_dsum('e.value')} AS sum_value,
           CAST(COUNT(DISTINCT c.c_mktsegment) AS BIGINT) AS n_segments
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY e.event_type
    """,
    tags=("join", "skew"),
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manually salted join for skewed keys: the fact side appends a
    random-ish salt (deterministic hash of a unique column, 8 buckets),
    the dim side explodes ×8 so every (key, salt) pair still matches —
    a hot key's rows now spread over 8 tasks instead of one. Result is
    provably identical to the plain join (the oracle runs the plain
    join). AQE's skew-join handles most cases at runtime; explicit
    salting is the tool for the pathological keys AQE can't split
    (single giant group in an aggregation-after-join).

    The join is MERGE-PINNED: the planner sizes the dim side from file
    statistics that cannot see the ×8 explode, so at replica scale it
    elected a broadcast whose deserialized hash relation (8× the dim)
    blew the 1 GiB driver (`notEnoughMemoryToBuildAndBroadcastTable`,
    r12 100× sweep) — the size-underestimated-build-side class. A
    broadcast would also make the salt dead weight: broadcast joins
    have no shuffle, hence no shuffle skew; the salted pattern only
    means anything on a shuffle join, which the pin guarantees."""
    n_salt = 8
    e = load_table(spark, sf_dir, "events").withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(n_salt)).cast("int")
    )
    c = load_table(spark, sf_dir, "customer").withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    ).hint("merge")
    return (
        e.join(c, (e.user_id == c.c_custkey) & (e.salt == c.salt))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value").alias("sum_value"),
            F.countDistinct("c_mktsegment").cast("bigint").alias("n_segments"),
        )
    )


@query(
    "scalar_array_map",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           string_split(text, ' ')[1] AS first_token,
           array_to_string(list_slice(list_sort(list_distinct(string_split(text, ' '))), 1, 3), ',')
               AS first3_sorted,
           list_contains(string_split(text, ' '), 'spark') AS has_spark,
           CAST(len(text) - len(replace(text, ' ', '')) AS INT) AS n_spaces
    FROM documents
    WHERE doc_id < 100
    """,
    tags=("scalar", "array"),
)
def scalar_array_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function family: construct, index, sort, distinct, slice,
    join, membership — all JVM built-ins over a split column (the
    array-typed counterpart of scalar_string_date_math)."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        toks.getItem(0).alias("first_token"),
        F.array_join(
            F.slice(F.array_sort(F.array_distinct(toks)), 1, 3), ","
        ).alias("first3_sorted"),
        F.array_contains(toks, "spark").alias("has_spark"),
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))))
        .cast("int")
        .alias("n_spaces"),
    )


@query(
    "explode_unnest",
    oracle="""
    SELECT t.token, COUNT(*) AS n, COUNT(DISTINCT d.doc_id) AS n_docs
    FROM documents d, unnest(string_split(d.text, ' ')) AS t(token)
    GROUP BY t.token
    HAVING COUNT(*) >= 100
    """,
    tags=("scalar", "explode"),
)
def explode_unnest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral explode (UNNEST): flatten token arrays into rows and
    build a corpus term-frequency table — the generator-node shape
    behind every inverted-index build."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .where(F.col("n") >= 100)
    )


# ---------------------------------------------------------------------------
# TPC-H deep-join shapes


@query(
    "q7_nation_pair_volume",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS l_year,
           CAST(SUM({sql_money('l.l_extendedprice')} * {sql_factor('l.l_discount', '-')}) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY supp_nation, cust_nation, l_year
    """,
    tags=("join", "agg"),
)
def q7_nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional nation-pair trade volume by year.
    Six-way join where both nation dims broadcast twice under different
    aliases; the disjunctive pair predicate lands after the broadcasts
    so only lineitem↔orders shuffles."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    rev = lcents("l_extendedprice") * lfactor("l_discount", -1)
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(lsum(rev, 4).alias("revenue"))
    )


@query(
    "q8_market_share",
    oracle=f"""
    SELECT o_year,
           -- both sums are scaled back to their exact unscaled BIGINTs
           -- before the single double division: dividing the decimal
           -- casts instead would round n/1e4 and d/1e4 separately and
           -- can land 1 ulp away from the engine's n/d (seen at
           -- sf0.001); the ratio is scaling-invariant
           CAST(CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume ELSE CAST(0 AS DECIMAL(17,4)) END) * 10000 AS BIGINT) AS DOUBLE)
               / CAST(CAST(SUM(volume) * 10000 AS BIGINT) AS DOUBLE) AS mkt_share
    FROM (
        SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
               {sql_money('l.l_extendedprice')} * {sql_factor('l.l_discount', '-')} AS volume,
               n1.n_name AS nation
        FROM lineitem l
        JOIN part p     ON l.l_partkey = p.p_partkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
        JOIN region r   ON n2.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    )
    GROUP BY o_year
    """,
    tags=("join", "agg"),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of regional PROMO volume per
    year — conditional aggregation as a ratio of two exact-decimal sums
    (single double division at the end keeps it bit-deterministic)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("nation")
    )
    # second view of nation (load_table memoizes the table plan, so a
    # self-join needs aliased projections to mint fresh attribute ids)
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_region")
    )
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    vol = lcents("l_extendedprice") * lfactor("l_discount", -1)
    zero = F.lit(0).cast("bigint")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(r), F.col("n2_region") == r.r_regionkey)
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            vol.alias("volume"),
            F.col("nation"),
        )
        .groupBy("o_year")
        .agg(
            (
                F.sum(
                    F.when(F.col("nation") == "NATION_3", F.col("volume")).otherwise(
                        zero
                    )
                ).cast("double")
                / F.sum("volume").cast("double")
            ).alias("mkt_share")
        )
    )


@query(
    "q9_product_profit",
    oracle=f"""
    SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
           CAST(SUM({sql_money('l.l_extendedprice')} * {sql_factor('l.l_discount', '-')}
                    - {sql_money('p.p_retailprice')} * CAST(l.l_quantity AS DECIMAL(12,2))
                      * CAST(0.1 AS DECIMAL(4,2))) AS DOUBLE) AS sum_profit
    FROM lineitem l
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY nation, o_year
    """,
    tags=("join", "agg"),
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit per supplier-nation per year for one
    product family. No partsupp table exists, so unit cost is proxied
    as 10% of p_retailprice — the exact-decimal chain (12,2)×(12,2)×
    (4,2) stays far under the decimal(38) cap in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%widget%"))
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    profit = (
        lcents("l_extendedprice") * lfactor("l_discount", -1) * F.lit(10)
        - lcents("p_retailprice") * lcents("l_quantity")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(lsum(profit, 5).alias("sum_profit"))
    )


@query(
    "q10_returned_items",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name AS nation,
           CAST(SUM({sql_money('l.l_extendedprice')} * {sql_factor('l.l_discount', '-')}) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01'
    GROUP BY c.c_custkey, c.c_name, nation
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
    tags=("join", "agg", "topk"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by returned-item revenue in a
    quarter. Exact-decimal revenue makes the DESC sort deterministic;
    c_custkey breaks any residual ties so LIMIT is stable across
    engines and parallelism."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    rev = lcents("l_extendedprice") * lfactor("l_discount", -1)
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(lsum(rev, 4).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o ON c.c_custkey = o.o_custkey AND o.o_orderstatus <> 'P'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
    tags=("join", "agg"),
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: order-count distribution over ALL customers —
    the outer join keeps zero-order customers (COUNT of a null-extended
    column is 0), then a second tiny aggregation histograms the counts.
    First agg shuffles on c_custkey; second is a few hundred rows."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") != "P")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@query(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               CAST(SUM({sql_money('l_extendedprice')} * {sql_factor('l_discount', '-')}) AS DOUBLE) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
    tags=("join", "agg", "subquery"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue.
    The revenue view is computed once and self-compared against its own
    max via a 1-row broadcast cross join; equality on exact-decimal
    totals (cast to double once) is safe cross-engine."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp_ntz"))
    )
    rev = lcents("l_extendedprice") * lfactor("l_discount", -1)
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        lsum(rev, 4).alias("total_revenue")
    )
    mx = revenue.agg(F.max("total_revenue").alias("max_rev"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(mx), F.col("total_revenue") == F.col("max_rev"))
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q16_supplier_cnt",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_type NOT IN ('PROMO', 'ECONOMY')
      AND p.p_size IN (1, 5, 10, 15, 20, 25)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
    tags=("join", "agg", "subquery"),
)
def q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part class,
    excluding flagged suppliers. With no partsupp table, lineitem is
    the part↔supplier bridge; the NOT IN becomes a broadcast left-anti
    join (s_suppkey is non-null so anti-join ≡ NOT IN)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").isin("PROMO", "ECONOMY"))
        & (F.col("p_size").isin(1, 5, 10, 15, 20, 25))
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q17_small_quantity_avg",
    oracle=f"""
    SELECT CAST({sql_dsum('l.l_extendedprice')} / 7.0 AS DOUBLE) AS avg_yearly,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand = 'Brand#3'
      AND l.l_quantity < (
          SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
          WHERE l2.l_partkey = p.p_partkey
      )
    """,
    tags=("join", "agg", "subquery"),
)
def q17_small_quantity_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue lost to small orders. The correlated
    per-part AVG subquery is de-correlated into a groupBy + broadcast
    join — one shuffle on l_partkey instead of a nested loop, exactly
    the plan a 100 TB lineitem needs. l_quantity is integer-valued so
    the double AVG is order-independent (exact integer sums)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#3")
    avg_q = li.groupBy(F.col("l_partkey").alias("ap_key")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_thresh")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(avg_q), li.l_partkey == F.col("ap_key"))
        .where(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(
            (dsum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q20_nested_in",
    oracle="""
    SELECT s.s_name, s.s_acctbal
    FROM supplier s
    WHERE s.s_suppkey IN (
        SELECT l.l_suppkey
        FROM lineitem l
        WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
        GROUP BY l.l_suppkey, l.l_partkey
        HAVING SUM(l.l_quantity) > 100
    )
    """,
    tags=("join", "subquery"),
)
def q20_nested_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers that moved serious volume of a part
    family — two nested INs become semi joins: part-filter semi-joins
    lineitem (broadcast), the per-(supplier,part) HAVING aggregates,
    and the surviving supplier set semi-joins the supplier dim.
    l_quantity sums are integer-exact in double."""
    li = load_table(spark, sf_dir, "lineitem")
    pk = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    heavy = (
        li.join(F.broadcast(pk), li.l_partkey == pk.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("tot_qty"))
        .where(F.col("tot_qty") > 100)
        .select("l_suppkey")
        .distinct()
    )
    s = load_table(spark, sf_dir, "supplier")
    return s.join(
        F.broadcast(heavy), s.s_suppkey == heavy.l_suppkey, "left_semi"
    ).select("s_name", "s_acctbal")


@query(
    "q21_late_sole_supplier",
    oracle="""
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s, lineitem l1, orders o
    WHERE s.s_suppkey = l1.l_suppkey
      AND o.o_orderkey = l1.l_orderkey
      AND o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 10
    """,
    tags=("join", "subquery", "topk"),
)
def q21_late_sole_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers solely responsible for late multi-
    supplier orders ("late" adapted to shipdate > orderdate + 60 days —
    the schema has no commit/receipt dates). The EXISTS / NOT-EXISTS
    pair is re-expressed as ONE aggregation per order (distinct
    suppliers, distinct late suppliers) + a rejoin — two shuffles on
    l_orderkey total, versus two extra self-joins for the literal
    correlated form; the oracle keeps the EXISTS formulation so the
    equivalence is cross-checked."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    li = load_table(spark, sf_dir, "lineitem")
    lo = li.join(
        o.select("o_orderkey", "o_orderdate"), li.l_orderkey == F.col("o_orderkey")
    ).withColumn(
        "is_late", F.col("l_shipdate") > F.expr("o_orderdate + INTERVAL 60 DAY")
    )
    per_order = lo.groupBy("o_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
    )
    s = load_table(spark, sf_dir, "supplier")
    return (
        lo.where(F.col("is_late"))
        .join(per_order, "o_orderkey")
        .where((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# grouping sets / map functions / sessionization / range join


@query(
    "grouping_sets_agg",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n, {sql_dsum('l_quantity', 0)} AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    tags=("agg",),
)
def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS: three aggregation granularities in one pass —
    Spark expands to a single shuffle with a grouping-id column, not
    three scans (same contract as rollup_agg/cube_agg but with an
    explicit, non-hierarchical set list)."""
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,0))) AS DOUBLE) AS sum_qty
        FROM {li}
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """,
        li=load_table(spark, sf_dir, "lineitem"),
    )


@query(
    "scalar_map_funcs",
    oracle="""
    SELECT doc_id,
           2 AS n_keys,
           'chars,tokens' AS keys_csv,
           len(string_split(text, ' ')) AS tokens_val,
           n_chars + len(string_split(text, ' ')) AS sum_vals
    FROM documents
    WHERE doc_id < 100
    """,
    tags=("scalar", "map"),
)
def scalar_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-function family: create_map, map_keys, map_values,
    element_at, size, and a fold over values — the map-typed
    counterpart of scalar_array_map. The oracle computes the same
    outputs directly from the source columns (DuckDB's MAP extraction
    semantics differ; values, not plumbing, are what's checked)."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    m = F.create_map(
        F.lit("tokens"),
        F.size(F.split("text", " ")).cast("bigint"),
        F.lit("chars"),
        F.col("n_chars"),
    )
    return d.select(
        "doc_id",
        F.size(m).alias("n_keys"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_csv"),
        F.element_at(m, F.lit("tokens")).cast("int").alias("tokens_val"),
        F.aggregate(
            F.map_values(m), F.lit(0).cast("bigint"), lambda acc, x: acc + x
        ).alias("sum_vals"),
    )


@query(
    "sessionize_batch",
    oracle="""
    SELECT user_id, session_id, COUNT(*) AS n_events,
           COUNT(DISTINCT event_type) AS n_types,
           date_diff('microsecond', MIN(ts), MAX(ts)) AS dur_us
    FROM (
        SELECT user_id, ts, event_type,
               CAST(SUM(CASE WHEN prev_ts IS NULL
                        OR date_diff('microsecond', prev_ts, ts) > 1800000000
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM (
            SELECT user_id, ts, event_id, event_type,
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
            FROM events
        )
    )
    GROUP BY user_id, session_id
    """,
    tags=("window", "event-time"),
)
def sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: the lag→gap-flag→running-sum idiom that
    assigns session ids with a 30-minute inactivity gap, then per-
    session stats. One shuffle on user_id serves both window passes
    and the final aggregation (same partitioning — no re-shuffle).
    event_id breaks timestamp ties so session boundaries are
    deterministic across engines; gaps/durations compare in exact
    integer MICROSECONDS (timestamps are µs-aligned, so Spark's
    floor-diff and DuckDB's boundary-count agree — at SECOND they
    don't). Streaming twin: stream_session_window."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.expr("timestampdiff(MICROSECOND, prev_ts, ts)")
    new_sess = (
        F.when(F.col("prev_ts").isNull() | (gap_us > 1800000000), 1).otherwise(0)
    )
    sess = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "session_id",
            F.sum(new_sess).over(w.rowsBetween(W.unboundedPreceding, 0)),
        )
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        F.expr("timestampdiff(MICROSECOND, min(ts), max(ts))").alias("dur_us"),
    )


@query(
    "range_join_events",
    oracle="""
    SELECT p.user_id,
           COUNT(*) AS n_pairs,
           COUNT(DISTINCT p.event_id) AS n_purchases,
           COUNT(DISTINCT c.event_id) AS n_clicks
    FROM events p
    JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 1 HOUR
     AND c.ts <= p.ts
    GROUP BY p.user_id
    """,
    tags=("join", "event-time"),
)
def range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval range join: each purchase attributes the same user's
    clicks from the preceding hour (the batch, oracle-checkable twin of
    stream_stream_join). The equality key hash-partitions the join so
    the time-range predicate evaluates within each user's group — no
    cross product; at 100 TB this stays a plain shuffled sort-merge
    join on the equi-key with the range as a post-filter."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("p_id"), F.col("ts").alias("p_ts")
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("c_id"),
        F.col("ts").alias("c_ts"),
    )
    return (
        p.join(
            c,
            (p.user_id == c.c_user)
            & (c.c_ts >= F.expr("p_ts - INTERVAL 1 HOUR"))
            & (c.c_ts <= p.p_ts),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("p_id").alias("n_purchases"),
            F.countDistinct("c_id").alias("n_clicks"),
        )
    )


# ---------------------------------------------------------------------------
# window analytics, ordered string aggregation, interpolated percentiles


@query(
    "window_analytics",
    oracle="""
    SELECT o_orderkey, o_custkey,
           LAG(o_totalprice)  OVER w AS prev_price,
           LEAD(o_totalprice) OVER w AS next_price,
           NTILE(4)           OVER w AS quartile,
           percent_rank()     OVER w AS pct_rank,
           cume_dist()        OVER w AS cume,
           first_value(o_totalprice) OVER w AS first_price,
           last_value(o_totalprice)
               OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS last_price
    FROM orders
    WHERE o_custkey < 100
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    tags=("window",),
)
def window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full analytic-window family in one pass: lag/lead, ntile,
    percent_rank, cume_dist, first/last value — all sharing ONE
    partitioning (o_custkey) so the plan sorts each partition once and
    evaluates every function in a single Window node. o_orderkey breaks
    date ties; percent_rank/cume_dist are single exact double divisions."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 100)
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w_full).alias("last_price"),
    )


@query(
    "string_agg_sorted",
    oracle="""
    SELECT n.n_name AS nation,
           COUNT(*) AS n_customers,
           string_agg(c.c_name, ',' ORDER BY c.c_name) AS names_csv
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_custkey < 300
    GROUP BY nation
    """,
    tags=("agg", "scalar"),
)
def string_agg_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/string_agg): collect_list is
    non-deterministic in arrival order, so the engine's contract is
    sort-then-join — array_sort(collect_list(..)) makes the result a
    pure function of the group's SET of values at any parallelism."""
    c = load_table(spark, sf_dir, "customer").where(F.col("c_custkey") < 300)
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.array_join(F.array_sort(F.collect_list("c_name")), ",").alias(
                "names_csv"
            ),
        )
    )


@query(
    "percentile_agg",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS p25_price,
           ROUND(quantile_cont(l_extendedprice, 0.5),  6) AS median_price,
           ROUND(quantile_cont(l_extendedprice, 0.75), 6) AS p75_price,
           quantile_cont(l_quantity, 0.5) AS median_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg",),
)
def percentile_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (PERCENTILE_CONT semantics):
    Spark `percentile` and DuckDB `quantile_cont` share the
    (n-1)·p linear-interpolation definition; prices round to 6 dp
    because the two engines may associate the interpolation arithmetic
    differently in the last ulp. At 100 TB the approximate twin
    (`approx_distinct`-style percentile_approx) is the scale path;
    this is the exact-semantics contract."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.25)), 6).alias("p25_price"),
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 6).alias("median_price"),
        F.round(F.percentile("l_extendedprice", F.lit(0.75)), 6).alias("p75_price"),
        F.percentile("l_quantity", F.lit(0.5)).alias("median_qty"),
    )


@query(
    "q2_min_value_supplier",
    oracle="""
    SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name, s.s_acctbal
    FROM part p
    JOIN (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) b
      ON b.l_partkey = p.p_partkey
    JOIN supplier s ON s.s_suppkey = b.l_suppkey
    WHERE p.p_size = 10
      AND s.s_suppkey = (
          SELECT s2.s_suppkey
          FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) b2
          JOIN supplier s2 ON s2.s_suppkey = b2.l_suppkey
          WHERE b2.l_partkey = p.p_partkey
          ORDER BY s2.s_acctbal, s2.s_suppkey
          LIMIT 1
      )
    """,
    tags=("join", "subquery", "topk"),
)
def q2_min_value_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each size-10 part, the cheapest supplier
    (min s_acctbal as the cost stand-in — no partsupp table exists;
    lineitem is the part↔supplier bridge). The correlated min-ORDER-
    LIMIT subquery is de-correlated into a window rank over the
    candidate set — one shuffle on p_partkey, no per-row re-scan; the
    oracle keeps the correlated formulation so the equivalence is
    cross-checked. s_suppkey breaks acctbal ties deterministically."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_size") == 10)
    s = load_table(spark, sf_dir, "supplier")
    bridge = li.select("l_partkey", "l_suppkey").distinct()
    w = W.partitionBy("p_partkey").orderBy("s_acctbal", "s_suppkey")
    return (
        bridge.join(F.broadcast(p), bridge.l_partkey == p.p_partkey)
        .join(F.broadcast(s), bridge.l_suppkey == s.s_suppkey)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal")
    )


@query(
    "q11_important_stock",
    oracle="""
    WITH value_by_part AS (
        SELECT l.l_partkey AS partkey,
               SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                   * CAST(CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2))
                          AS DECIMAL(4,2))) AS v
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        WHERE n.n_name = 'NATION_7'
        GROUP BY l.l_partkey)
    SELECT partkey, CAST(v AS DOUBLE) AS stock_value
    FROM value_by_part
    WHERE CAST(v AS DOUBLE) >
          (SELECT CAST(SUM(v) AS DOUBLE) * 0.001 FROM value_by_part)
    """,
    tags=("join", "agg", "subquery"),
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose one-nation (NATION_7) stock value exceeds a
    fraction of the nation total (no partsupp table exists, so value
    = lineitem revenue of that nation's supplier lineitems). The per-part
    value is summed once and reused for both the rows and the total —
    the scalar total broadcasts back as a 1-row cross join, never a
    second scan. Sums are exact decimal; the threshold compare happens
    in double on both engines (one identical IEEE rounding each), so
    the boundary is bit-deterministic."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_7")
    val = lcents("l_extendedprice") * lfactor("l_discount", -1)
    by_part = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(val).alias("v"))
        .localCheckpoint()
    )
    total = by_part.agg(
        ((F.sum("v").cast("double") / 10000) * F.lit(0.001)).alias("threshold")
    )
    return (
        by_part.crossJoin(F.broadcast(total))
        .where((F.col("v").cast("double") / 10000) > F.col("threshold"))
        .select(
            "partkey", (F.col("v").cast("double") / 10000).alias("stock_value")
        )
    )


@query(
    "stats_moments",
    oracle="""
    WITH c AS (
      SELECT l_returnflag,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS xc,
             CAST(l_quantity AS BIGINT) AS q
      FROM lineitem
    ), s AS (
      SELECT l_returnflag,
             COUNT(*)      AS n,
             SUM(xc)       AS sx,
             SUM(xc * xc)  AS sxx,
             SUM(q)        AS sq,
             SUM(q * q)    AS sqq,
             SUM(xc * q)   AS sxq
      FROM c GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           n AS n_items,
           ROUND(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 4) AS mean_price,
           ROUND(SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                      / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) / 100.0, 4)
               AS stddev_price,
           ROUND(CAST(n * sxq - sx * sq AS DOUBLE)
                 / (SQRT(CAST(n * sqq - sq * sq AS DOUBLE))
                    * SQRT(CAST(n * sxx - sx * sx AS DOUBLE))), 6)
               AS corr_qty_price
    FROM s
    """,
    tags=("agg", "stats"),
)
def stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic second-moment statistics (mean / sample stddev /
    correlation) from EXACT integer sums, not Welford streaming state.

    Spark's builtin `stddev`/`corr` merge partial (mean, M2) states in
    shuffle-arrival order, so the low bits of the result change run to
    run; an oracle hash-compare would flake. Instead each partition
    accumulates exact integer sums (Sx, Sxx, Sq, Sqq, Sxq as
    decimal(38,0) — money in bigint cents, quantities as longs), which
    merge associatively and order-independently, and the closed-form
    moments

        var  = (n*Sxx - Sx^2) / (n*(n-1))
        corr = (n*Sxy - Sx*Sy) / sqrt((n*Sxx - Sx^2)(n*Syy - Sy^2))

    are evaluated in double with the same op order as the oracle SQL.
    The hugeint->double conversions can differ from Spark's
    decimal->double by an ulp above 2^53, so both sides round the
    final statistics (4 dp for money, 6 dp for the dimensionless
    correlation) — error bound ~1e-12 against a 5e-5 boundary.
    At 100 TB this is one map-side-combined groupBy of six longs per
    group; the per-row squares stay in primitive long codegen.
    """
    li = load_table(spark, sf_dir, "lineitem")
    xc = lcents("l_extendedprice")
    q = lcents("l_quantity", 0)
    d38 = "decimal(38,0)"
    s = li.select(
        "l_returnflag", xc.alias("xc"), q.alias("q")
    ).groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("xc").cast(d38)).alias("sx"),
        F.sum((F.col("xc") * F.col("xc")).cast(d38)).alias("sxx"),
        F.sum(F.col("q").cast(d38)).alias("sq"),
        F.sum((F.col("q") * F.col("q")).cast(d38)).alias("sqq"),
        F.sum((F.col("xc") * F.col("q")).cast(d38)).alias("sxq"),
    )
    nd = F.col("n").cast(d38)
    vx = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vq = (nd * F.col("sqq") - F.col("sq") * F.col("sq")).cast("double")
    cv = (nd * F.col("sxq") - F.col("sx") * F.col("sq")).cast("double")
    n_d = F.col("n").cast("double")
    return s.select(
        "l_returnflag",
        F.col("n").alias("n_items"),
        F.round(F.col("sx").cast("double") / n_d / F.lit(100.0), 4).alias(
            "mean_price"
        ),
        F.round(
            F.sqrt(vx / (n_d * (F.col("n") - 1).cast("double"))) / F.lit(100.0),
            4,
        ).alias("stddev_price"),
        F.round(cv / (F.sqrt(vq) * F.sqrt(vx)), 6).alias("corr_qty_price"),
    )


# ---------------------------------------------------------------------------
# outer joins, time-RANGE frames, profiling, reshaping, change logs


@query(
    "join_full_outer",
    oracle=f"""
    WITH o96 AS (
        SELECT o_custkey, COUNT(*) AS n_1996, {sql_dsum('o_totalprice')} AS sum_1996
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY o_custkey),
    o97 AS (
        SELECT o_custkey, COUNT(*) AS n_1997, {sql_dsum('o_totalprice')} AS sum_1997
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY o_custkey)
    SELECT COALESCE(o96.o_custkey, o97.o_custkey) AS custkey,
           COALESCE(n_1996, 0) AS n_1996,
           COALESCE(n_1997, 0) AS n_1997,
           COALESCE(sum_1996, 0.0) + COALESCE(sum_1997, 0.0) AS sum_both
    FROM o96 FULL OUTER JOIN o97 ON o96.o_custkey = o97.o_custkey
    """,
    tags=("join", "outer"),
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two yearly activity profiles — keeps customers
    active in either year (the churn/reactivation comparison shape).
    Both sides pre-aggregate BEFORE the join, so the outer join matches
    one row per key per side — at 100 TB the join input is |customers|,
    not |orders|, and the full-outer shuffle is the already-reduced
    keyset."""
    o = load_table(spark, sf_dir, "orders")

    def year_slice(y: int, n_alias: str, s_alias: str) -> DataFrame:
        return (
            o.where(
                (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp_ntz"))
                & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("timestamp_ntz"))
            )
            .groupBy(F.col("o_custkey").alias(f"ck_{y}"))
            .agg(
                F.count(F.lit(1)).alias(n_alias),
                dsum("o_totalprice").alias(s_alias),
            )
        )

    a = year_slice(1996, "n_1996", "sum_1996")
    b = year_slice(1997, "n_1997", "sum_1997")
    return (
        a.join(b, a.ck_1996 == b.ck_1997, "full_outer")
        .select(
            F.coalesce("ck_1996", "ck_1997").alias("custkey"),
            F.coalesce("n_1996", F.lit(0)).alias("n_1996"),
            F.coalesce("n_1997", F.lit(0)).alias("n_1997"),
            (
                F.coalesce("sum_1996", F.lit(0.0))
                + F.coalesce("sum_1997", F.lit(0.0))
            ).alias("sum_both"),
        )
    )


@query(
    "window_range_frame",
    oracle=f"""
    SELECT user_id, event_id,
           CAST(SUM(SUM(CAST(value AS DECIMAL(12,2)))) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS sum_24h,
           CAST(SUM(COUNT(*)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS n_24h
    FROM events
    WHERE user_id < 50
    GROUP BY user_id, event_id, ts
    """,
    tags=("window", "event-time"),
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 24-hour RANGE frame per user: the moving-aggregate shape
    (fraud velocity checks, rate counters) where the frame is defined
    by TIME distance, not row count — ROWS frames are wrong whenever
    event density varies. Spark's rangeBetween needs a numeric ordering
    key, so the timestamp becomes INTEGER MICROSECONDS (`unix_micros`,
    matching the oracle's `epoch_us` exactly — second-truncation would
    let frames disagree whenever a pair of events straddles the 24 h
    boundary within one second); each partition sorts once and the
    frame slides in O(n). Values aggregate as exact decimal cents
    inside the frame (order-independent). The GROUP BY collapses
    exact-duplicate timestamps first so RANGE peer groups are
    identical in both engines. The windowed COUNT is cast to BIGINT on
    both sides (the oracle's HUGEINT otherwise lands as float64 in the
    comparator)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 50)
    base = ev.groupBy(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("epoch_us"),
    ).agg(
        F.sum(F.col("value").cast("decimal(12,2)")).alias("v_sum"),
        F.count(F.lit(1)).alias("v_n"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("epoch_us")
        .rangeBetween(-86_400_000_000, W.currentRow)
    )
    return base.select(
        "user_id",
        "event_id",
        F.sum("v_sum").over(w).cast("double").alias("sum_24h"),
        F.sum("v_n").over(w).alias("n_24h"),
    )


@query(
    "profile_columns",
    oracle="""
    SELECT 'o_custkey' AS column_name, COUNT(*) AS n,
           COUNT(*) - COUNT(o_custkey) AS n_null,
           COUNT(DISTINCT o_custkey) AS n_distinct,
           CAST(MIN(o_custkey) AS VARCHAR) AS min_val,
           CAST(MAX(o_custkey) AS VARCHAR) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
           COUNT(DISTINCT o_orderstatus),
           CAST(MIN(o_orderstatus) AS VARCHAR), CAST(MAX(o_orderstatus) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', COUNT(*), COUNT(*) - COUNT(o_totalprice),
           COUNT(DISTINCT o_totalprice),
           CAST(CAST(MIN(o_totalprice) AS DECIMAL(12,2)) AS VARCHAR),
           CAST(CAST(MAX(o_totalprice) AS DECIMAL(12,2)) AS VARCHAR)
    FROM orders
    """,
    tags=("agg", "profiling"),
)
def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling — the engine's ANALYZE surface: per-column row
    count, null count, exact distinct count, and min/max, emitted in
    long format. ONE scan computes every statistic (a 1-row wide
    aggregate stacked to rows afterward); the oracle's three-scan
    UNION ALL is the semantic spec, not the physical plan. Doubles
    render through decimal so min/max strings are engine-identical.
    At 100 TB swap COUNT(DISTINCT) for approx_count_distinct — the
    rest re-aggregates from per-file statistics."""
    o = load_table(spark, sf_dir, "orders")
    wide = o.agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) - F.count("o_custkey")).alias("nn_ck"),
        F.countDistinct("o_custkey").alias("nd_ck"),
        F.min("o_custkey").cast("string").alias("mn_ck"),
        F.max("o_custkey").cast("string").alias("mx_ck"),
        (F.count(F.lit(1)) - F.count("o_orderstatus")).alias("nn_st"),
        F.countDistinct("o_orderstatus").alias("nd_st"),
        F.min("o_orderstatus").cast("string").alias("mn_st"),
        F.max("o_orderstatus").cast("string").alias("mx_st"),
        (F.count(F.lit(1)) - F.count("o_totalprice")).alias("nn_tp"),
        F.countDistinct("o_totalprice").alias("nd_tp"),
        F.min("o_totalprice").cast("decimal(12,2)").cast("string").alias("mn_tp"),
        F.max("o_totalprice").cast("decimal(12,2)").cast("string").alias("mx_tp"),
    )
    return wide.selectExpr(
        "stack(3, "
        "'o_custkey', n, nn_ck, nd_ck, mn_ck, mx_ck, "
        "'o_orderstatus', n, nn_st, nd_st, mn_st, mx_st, "
        "'o_totalprice', n, nn_tp, nd_tp, mn_tp, mx_tp) "
        "AS (column_name, n, n_null, n_distinct, min_val, max_val)"
    )


@query(
    "unpivot_melt",
    oracle="""
    WITH src AS (
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax
        FROM lineitem WHERE l_orderkey < 2000)
    SELECT measure, COUNT(*) AS n,
           CAST(SUM(CAST(val AS DECIMAL(14,2))) AS DOUBLE) AS sum_val,
           MIN(val) AS min_val, MAX(val) AS max_val
    FROM (UNPIVOT src ON l_quantity, l_extendedprice, l_discount, l_tax
          INTO NAME measure VALUE val)
    GROUP BY measure
    """,
    tags=("scalar", "unpivot"),
)
def unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt — wide measure columns to (measure, value) rows,
    the inverse of pivot_agg and the long-format feed for per-metric
    stats. Spark expands it as a generator projection (no shuffle until
    the aggregate); per-measure sums run as exact decimal."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") < 2000)
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_tax",
        )
    )
    m = li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "val",
    )
    return m.groupBy("measure").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("val").cast("decimal(14,2)")).cast("double").alias("sum_val"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
    )


@query(
    "union_by_name_evolution",
    oracle="""
    WITH v1 AS (
        SELECT event_id, event_type, value FROM events WHERE event_id < 500),
    v2 AS (
        SELECT event_id, user_id, event_type FROM events
        WHERE event_id >= 500 AND event_id < 1000),
    unioned AS (
        SELECT * FROM v1 UNION ALL BY NAME SELECT * FROM v2)
    SELECT event_type,
           COUNT(*) AS n,
           COUNT(value) AS n_with_value,
           COUNT(user_id) AS n_with_user
    FROM unioned
    GROUP BY event_type
    """,
    tags=("setop", "schema-evolution"),
)
def union_by_name_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: two event-log generations with different
    column sets combine BY NAME (missing columns null-filled) — the
    only safe union at 100 TB, where positional union silently pairs
    mismatched columns after any schema change. The null-count audit
    shows exactly which generation carried which field."""
    ev = load_table(spark, sf_dir, "events")
    v1 = ev.where(F.col("event_id") < 500).select("event_id", "event_type", "value")
    v2 = ev.where((F.col("event_id") >= 500) & (F.col("event_id") < 1000)).select(
        "event_id", "user_id", "event_type"
    )
    u = v1.unionByName(v2, allowMissingColumns=True)
    return u.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("value").alias("n_with_value"),
        F.count("user_id").alias("n_with_user"),
    )


@query(
    "changelog_compact",
    oracle="""
    SELECT user_id, event_id AS last_event_id, ts AS last_ts,
           event_type AS last_event_type, value AS last_value
    FROM (
        SELECT user_id, event_id, ts, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events)
    WHERE rn = 1
    """,
    tags=("window", "cdc", "streaming-equivalent"),
)
def changelog_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog compaction — latest state per key, the upsert/CDC
    materialization every streaming table maintains (treating events
    as a keyed update stream; event_id breaks same-timestamp ties).
    row_number-desc = 1 goes through WindowGroupLimit, so only one row
    per key survives the shuffle — the exchange carries |keys| rows at
    any history depth. The streaming twin is
    ``dropDuplicatesWithinWatermark``/state-store upsert; this batch
    form is the backfill/compaction job run against the same data."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )
    )


@query(
    "distinct_on_latest",
    oracle="""
    SELECT user_id, ts, event_type, value
    FROM (
        SELECT user_id, ts, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events)
    WHERE rn = 1
    """,
    tags=("relational", "dedup", "window"),
)
def distinct_on_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest-per-key — Postgres/DuckDB's ``DISTINCT ON (key) ...
    ORDER BY key, ts DESC`` spelled the Spark way (row_number window +
    rn = 1): the single most common CDC/state-materialization dedup
    ("current row per entity"). The window partitions by the entity
    key, so the sort distributes; at 100 TB prefer this over
    ``groupBy(max(struct(...)))`` only when you need ALL columns of
    the winning row — which is exactly this shape. Deterministic
    (ts, event_id) tie-break keeps both engines identical; the oracle
    uses the same ROW_NUMBER form (DuckDB's DISTINCT ON is sugar over
    it, with an unspecified tie rule this pins down)."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "ts", "event_type", "value")
    )


@query(
    "join_null_safe_eq",
    oracle="""
    WITH a AS (
        SELECT NULLIF(user_id % 7, 0) AS k, COUNT(*) AS ca
        FROM events WHERE event_type = 'click' GROUP BY 1),
    b AS (
        SELECT NULLIF(user_id % 7, 0) AS k, COUNT(*) AS cb
        FROM events WHERE event_type = 'purchase' GROUP BY 1)
    SELECT a.k AS k, CAST(a.ca AS BIGINT) AS n_clicks,
           CAST(b.cb AS BIGINT) AS n_purchases,
           CAST(a.ca * b.cb AS BIGINT) AS n_pairs
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
    tags=("join", "null-semantics"),
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM) — the
    three-valued-logic face a regular equi-join silently gets wrong:
    with a nullable key (NULLIF-derived here), ``a.k = b.k`` DROPS the
    NULL group entirely, while the null-safe form matches NULL to NULL
    exactly once — the semantics CDC/merge pipelines need for nullable
    business keys. Both sides pre-aggregate to per-key counts before
    the join (never a row-level pair blowup), and Spark plans ``<=>``
    as an ordinary hash join (no nested loop — plan audit enforced).
    The NULL row's presence in the output IS the semantics under
    test; the oracle spells it IS NOT DISTINCT FROM."""
    ev = load_table(spark, sf_dir, "events")
    k = F.nullif(F.col("user_id") % 7, F.lit(0))
    a = (
        ev.where(F.col("event_type") == "click")
        .groupBy(k.alias("k"))
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    b = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(k.alias("k"))
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    return (
        a.join(b, a["k"].eqNullSafe(b["k"]))
        .select(
            a["k"].alias("k"),
            "n_clicks",
            "n_purchases",
            (F.col("n_clicks") * F.col("n_purchases")).alias("n_pairs"),
        )
    )


#: activity padding per event for interval coalescing (microseconds):
#: each event claims [ts, ts + 5 min]
ISLAND_PAD_US = 300_000_000


@query(
    "interval_coalesce_islands",
    oracle=f"""
    WITH base AS (
        SELECT user_id, event_id, epoch_us(ts) AS s,
               epoch_us(ts) + {ISLAND_PAD_US} AS e
        FROM events WHERE user_id IS NOT NULL AND user_id < 200),
    flagged AS (
        SELECT user_id, event_id, s, e,
               CASE WHEN MAX(e) OVER (
                        PARTITION BY user_id ORDER BY s, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    IS NULL THEN 1
                    WHEN s > MAX(e) OVER (
                        PARTITION BY user_id ORDER BY s, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    THEN 1 ELSE 0 END AS is_new
        FROM base),
    islands AS (
        SELECT user_id, s, e,
               SUM(is_new) OVER (
                   PARTITION BY user_id ORDER BY s, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS island
        FROM flagged),
    merged AS (
        SELECT user_id, island, MIN(s) AS i_start, MAX(e) AS i_end,
               COUNT(*) AS n_events
        FROM islands GROUP BY 1, 2)
    SELECT user_id,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(i_end - i_start) AS BIGINT) AS covered_us
    FROM merged GROUP BY user_id
    """,
    tags=("window", "event-time", "gaps-islands"),
)
def interval_coalesce_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands interval coalescing: each event claims a padded
    activity interval [ts, ts+5min]; overlapping intervals per user
    merge into islands and the row reports island count and total
    covered time — the classic uptime/activity-coverage shape (and the
    interval-union primitive behind media-span dedup). An island opens
    where the start exceeds the running MAX of all previous ends (a
    plain LAG is wrong when an early interval outlasts its successors
    — the textbook gaps-and-islands pitfall); island ids are the
    running sum of those flags. Everything is integer microseconds
    (``unix_micros`` ↔ ``epoch_us``, the window_range_frame pairing)
    so coverage sums are exact on both engines, with event_id breaking
    equal-timestamp ties identically. Scale shape: both windows and
    both aggregates cluster on the high-cardinality user axis — one
    shuffle, per-user chains scan in O(n), no enum partition
    anywhere."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & (F.col("user_id") < 200)
    )
    s = F.unix_micros(F.col("ts").cast("timestamp"))
    base = ev.select(
        "user_id",
        "event_id",
        s.alias("s"),
        (s + ISLAND_PAD_US).alias("e"),
    )
    w_prev = (
        W.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    prev_max = F.max("e").over(w_prev)
    flagged = base.select(
        "user_id",
        "event_id",
        "s",
        "e",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1)
        .otherwise(0)
        .alias("is_new"),
    )
    # the SAME (s, event_id) total order as the flag window: ordering
    # the running sum by (s, e) instead would let equal-timestamp rows
    # swap around an island boundary, engine-dependently
    w_cum = (
        W.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    islands = flagged.select(
        "user_id", "s", "e", F.sum("is_new").over(w_cum).alias("island")
    )
    merged = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("i_start"),
        F.max("e").alias("i_end"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return merged.groupBy("user_id").agg(
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.count(F.lit(1)).cast("bigint").alias("n_islands"),
        F.sum(F.col("i_end") - F.col("i_start")).cast("bigint").alias(
            "covered_us"
        ),
    )


# ---------------------------------------------------------------------------
# referential-integrity audit over the TPC-H star


@query(
    "referential_integrity_audit",
    oracle="""
    SELECT 'order_fanout' AS metric, CAST(k AS BIGINT) AS k,
           CAST(n AS BIGINT) AS n
    FROM (SELECT cnt AS k, COUNT(*) AS n
          FROM (SELECT l_orderkey, COUNT(*) AS cnt
                FROM lineitem GROUP BY l_orderkey)
          GROUP BY cnt)
    UNION ALL
    SELECT 'orders_without_lineitems', 0,
           CAST(COUNT(*) AS BIGINT)
    FROM orders o WHERE NOT EXISTS (
        SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
    UNION ALL
    SELECT 'customers_without_orders', 0, CAST(COUNT(*) AS BIGINT)
    FROM customer c WHERE NOT EXISTS (
        SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT 'lineitems_orphaned', 0, CAST(COUNT(*) AS BIGINT)
    FROM lineitem l WHERE NOT EXISTS (
        SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'orders_orphaned', 0, CAST(COUNT(*) AS BIGINT)
    FROM orders o WHERE NOT EXISTS (
        SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    """,
    tags=("relational", "quality", "audit"),
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity sweep over the order star — the
    data-quality gate a warehouse load runs before anything else:
    orphaned facts (lineitems without an order, orders without a
    customer), childless parents (orders with no lineitems, customers
    with no orders — the latter genuinely non-zero in TPC-H, ~⅓ of
    customers), and the parent→child fanout histogram (lineitems per
    order: 1..7 by construction — a shifted histogram is the first
    symptom of a bad incremental load). All exact anti-join /
    aggregate counts; every join is FK-keyed between corpus-scale
    relations and MERGE-PINNED: at the 10× replica on a vanilla 1 GiB
    session, AQE elected to broadcast the orders key relation (fits
    compressed under the threshold, blows the driver deserialized —
    the r9 ngram_novelty class on a FACT key side) and the sweep
    caught it; both sides of every anti-join here grow with the
    corpus, so sort-merge (spills and streams) is the only shape that
    survives any scale. Output is a tidy (metric, k, n) relation."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey")

    fanout = (
        li.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .selectExpr("'order_fanout' AS metric", "CAST(k AS BIGINT) AS k",
                    "CAST(n AS BIGINT) AS n")
    )

    def one(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n")).selectExpr(
            f"'{name}' AS metric", "CAST(0 AS BIGINT) AS k",
            "CAST(n AS BIGINT) AS n"
        )

    orders_no_li = one(
        "orders_without_lineitems",
        o.join(li.hint("merge"), o.o_orderkey == li.l_orderkey, "left_anti"),
    )
    cust_no_orders = one(
        "customers_without_orders",
        c.join(o.hint("merge"), c.c_custkey == o.o_custkey, "left_anti"),
    )
    li_orphans = one(
        "lineitems_orphaned",
        li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey, "left_anti"),
    )
    o_orphans = one(
        "orders_orphaned",
        o.join(c.hint("merge"), o.o_custkey == c.c_custkey, "left_anti"),
    )
    return (
        fanout.unionByName(orders_no_li)
        .unionByName(cust_no_orders)
        .unionByName(li_orphans)
        .unionByName(o_orphans)
    )


# ---------------------------------------------------------------------------
# incremental upsert merge (lakehouse MERGE INTO, batch form)

MERGE_SPLIT = "2024-01-15"


@query(
    "merge_upsert_state",
    oracle="""
    SELECT user_id, ts AS last_ts, event_type AS last_event_type,
           value AS last_value
    FROM (
        SELECT user_id, ts, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events)
    WHERE rn = 1
    """,
    tags=("cdc", "merge", "event-time"),
)
def merge_upsert_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MERGE/upsert: the base state table (latest per key
    BEFORE the split date) merged with a delta batch (latest per key
    AFTER it) via full-outer join, delta winning — the lakehouse
    ``MERGE INTO`` applied as a batch operator. The oracle computes the
    same state directly over ALL history, so a hash match proves the
    incremental merge path equals the recompute-from-scratch path —
    the property that lets a 100 TB pipeline process only the delta
    partition each cycle instead of rescanning the base. Both inputs
    compact through WindowGroupLimit before the |keys|-sized join."""
    ev = load_table(spark, sf_dir, "events")
    split = F.lit(MERGE_SPLIT).cast("timestamp")

    def latest(df: DataFrame) -> DataFrame:
        w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
        return (
            df.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("user_id", "ts", "event_type", "value")
        )

    base = latest(ev.where(F.col("ts") < split))
    delta = latest(ev.where(F.col("ts") >= split))
    d = delta.select(
        F.col("user_id").alias("d_user_id"),
        F.col("ts").alias("d_ts"),
        F.col("event_type").alias("d_event_type"),
        F.col("value").alias("d_value"),
    )
    return base.join(
        d, base["user_id"] == d["d_user_id"], "full_outer"
    ).select(
        F.coalesce(d["d_user_id"], base["user_id"]).alias("user_id"),
        F.coalesce(d["d_ts"], base["ts"]).alias("last_ts"),
        F.coalesce(d["d_event_type"], base["event_type"]).alias("last_event_type"),
        F.coalesce(d["d_value"], base["value"]).alias("last_value"),
    )


# ---------------------------------------------------------------------------
# market-basket co-occurrence with lift

#: minimum co-occurrence count for a reported pair
BASKET_MIN_CO = 2


@query(
    "basket_lift_pairs",
    oracle=f"""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n_orders AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM b),
    item AS (SELECT l_partkey, COUNT(*) AS c FROM b GROUP BY l_partkey),
    p AS (
        SELECT a.l_partkey AS part_x, c.l_partkey AS part_y,
               CAST(COUNT(*) AS BIGINT) AS n_co
        FROM b a JOIN b c
          ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= {BASKET_MIN_CO})
    SELECT part_x, part_y, n_co,
           CAST(ix.c AS BIGINT) AS c_x, CAST(iy.c AS BIGINT) AS c_y,
           CAST(n_co AS DOUBLE) * CAST(n_orders.n AS DOUBLE)
               / (CAST(ix.c AS DOUBLE) * CAST(iy.c AS DOUBLE)) AS lift
    FROM p JOIN item ix ON p.part_x = ix.l_partkey
           JOIN item iy ON p.part_y = iy.l_partkey
           CROSS JOIN n_orders
    """,
    tags=("agg", "basket", "recommendation"),
)
def basket_lift_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket analysis: part pairs bought together in ≥2
    (BASKET_MIN_CO) orders, scored by lift = P(x,y)/(P(x)·P(y)) — the
    co-occurrence primitive behind 'frequently bought together' and
    item-item recommenders. Same log-free rational policy as
    collocation_pmi (monotone in PMI, one exact-integer division).

    Scale shape: pair generation is a self-join keyed on the basket id
    — the fan-out per basket is C(items-in-basket, 2), bounded by
    basket size (≤7 here; capped/exploded-from-collect_set in a real
    retail schema), NEVER corpus-quadratic; the min-count HAVING runs
    before the dimension joins so only surviving pairs join the
    item-frequency table, and the 1-row basket total broadcasts. The
    basket self-join and item-frequency join sides are MERGE-pinned
    (r11 fact-key plan-audit rule): |parts| and |baskets| grow with
    the corpus and the relations are post-shuffle — compressed int64
    keys under-size the planner's broadcast election (the r10
    referential_integrity OOM class), and a shuffled-hash pin trades
    one OOM for another (the 10× replica refused the per-task hash
    build: "Can't acquire 67108864 bytes to build hash relation" on
    a 1 GiB heap). Sort-merge spills and streams at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    b = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = b.agg(
        F.countDistinct("l_orderkey").alias("n")
    )
    item = b.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    a, c = b.alias("a"), b.alias("c")
    p = (
        a.join(
            # merge pin: b is the post-shuffle distinct basket
            # relation — basket-scale, never broadcastable, and too
            # big for a per-task hash build at replica scale; the pair
            # join sort-merges on the basket key and evaluates the
            # part inequality as a residual condition
            c.hint("merge"),
            (F.col("a.l_orderkey") == F.col("c.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("c.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_x"),
            F.col("c.l_partkey").alias("part_y"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_co"))
        .where(F.col("n_co") >= BASKET_MIN_CO)
    )
    ix = item.select(F.col("l_partkey").alias("part_x"), F.col("c").alias("cx"))
    iy = item.select(F.col("l_partkey").alias("part_y"), F.col("c").alias("cy"))
    return (
        p.join(ix.hint("merge"), "part_x")
        .join(iy.hint("merge"), "part_y")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_x",
            "part_y",
            "n_co",
            F.col("cx").cast("bigint").alias("c_x"),
            F.col("cy").cast("bigint").alias("c_y"),
            (
                F.col("n_co").cast("double")
                * F.col("n").cast("double")
                / (F.col("cx").cast("double") * F.col("cy").cast("double"))
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# fixed-width histogram

#: equi-width bucket count for histogram_fixed_width
HIST_BUCKETS = 20


@query(
    "histogram_fixed_width",
    oracle=f"""
    WITH bounds AS (
        SELECT event_type, MIN(value) AS mn, MAX(value) AS mx
        FROM events GROUP BY event_type)
    SELECT e.event_type,
           CASE WHEN b.mx = b.mn THEN 0
                ELSE LEAST({HIST_BUCKETS - 1},
                           CAST(FLOOR(((e.value - b.mn) / (b.mx - b.mn)) * {HIST_BUCKETS}) AS BIGINT))
           END AS bucket,
           COUNT(*) AS n_events
    FROM events e JOIN bounds b ON e.event_type = b.event_type
    GROUP BY 1, 2
    """,
    tags=("agg", "histogram"),
)
def histogram_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of ``value`` per event type — the profiling /
    monitoring primitive behind distribution drift checks. Two passes:
    a tiny per-type bounds aggregate (|types| rows, broadcast back) and
    one bucket-count aggregate; at 100 TB both are single map-side
    combines, and the broadcast join adds no shuffle on the fact side.
    The bucket formula is pure IEEE double arithmetic written
    operand-for-operand identically in the oracle."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.min("value").alias("mn"), F.max("value").alias("mx")
    )
    bucket = F.when(F.col("mx") == F.col("mn"), F.lit(0).cast("bigint")).otherwise(
        F.least(
            F.lit(HIST_BUCKETS - 1).cast("bigint"),
            F.floor(
                ((F.col("value") - F.col("mn")) / (F.col("mx") - F.col("mn")))
                * HIST_BUCKETS
            ),
        )
    )
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type", bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


# ---------------------------------------------------------------------------
# deterministic argmax / argmin aggregate


@query(
    "agg_argmax",
    oracle="""
    SELECT n.n_name AS nation,
           MAX(ROW(c.c_acctbal, -c.c_custkey))[1] AS top_acctbal,
           -MAX(ROW(c.c_acctbal, -c.c_custkey))[2] AS top_custkey,
           MIN(ROW(c.c_acctbal, c.c_custkey))[1] AS bottom_acctbal,
           MIN(ROW(c.c_acctbal, c.c_custkey))[2] AS bottom_custkey
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
    tags=("agg",),
)
def agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARGMAX/ARGMIN as single-pass aggregates: per nation, the customer
    holding the highest account balance (ties → lowest custkey) and the
    lowest (ties → lowest custkey). Plain ``max_by`` is nondeterministic
    under ties, so the argmax rides a lexicographic struct MAX —
    mergeable, one map-side combine, no window/sort. The same trick is
    the scale path for "latest row per key" compaction."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    top = F.max(F.struct(F.col("c_acctbal"), (-F.col("c_custkey")).alias("neg")))
    bot = F.min(F.struct(F.col("c_acctbal"), F.col("c_custkey")))
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            top.getField("c_acctbal").alias("top_acctbal"),
            (-top.getField("neg")).alias("top_custkey"),
            bot.getField("c_acctbal").alias("bottom_acctbal"),
            bot.getField("c_custkey").alias("bottom_custkey"),
        )
    )


# ---------------------------------------------------------------------------
# deterministic mode (most frequent value, smallest-value tie-break)


@query(
    "mode_agg",
    oracle="""
    SELECT l_returnflag, CAST(q AS BIGINT) AS mode_quantity,
           CAST(cnt AS BIGINT) AS mode_count
    FROM (
        SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q, COUNT(*) AS cnt,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY COUNT(*) DESC,
                                           CAST(l_quantity AS BIGINT) ASC) AS rn
        FROM lineitem GROUP BY 1, 2)
    WHERE rn = 1
    """,
    tags=("agg", "mode"),
)
def mode_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE: the most frequent quantity per return flag,
    ties broken by the smallest value — built-in ``mode()`` is
    tie-nondeterministic in both engines, so the engine exposes the
    well-defined two-phase form instead: a |groups × values| count
    aggregate (map-side combinable) then a WindowGroupLimit rank over
    that tiny aggregate. At 100 TB the heavy input collapses in the
    first aggregate; the window never sees raw rows."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy(
        "l_returnflag", F.col("l_quantity").cast("bigint").alias("q")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = W.partitionBy("l_returnflag").orderBy(F.col("cnt").desc(), F.col("q").asc())
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("q").alias("mode_quantity"),
            F.col("cnt").alias("mode_count"),
        )
    )


# ---------------------------------------------------------------------------
# bitwise / boolean aggregate family


@query(
    "agg_bitwise_bool",
    oracle="""
    SELECT event_type,
           CAST(BIT_AND(user_id) AS BIGINT) AS users_bit_and,
           CAST(BIT_OR(user_id) AS BIGINT) AS users_bit_or,
           CAST(BIT_XOR(user_id) AS BIGINT) AS users_bit_xor,
           BOOL_AND(value >= 0.0) AS all_nonneg,
           BOOL_OR(value > 500.0) AS any_large,
           CAST(COUNT_IF(value > 100.0) AS BIGINT) AS n_over_100
    FROM events GROUP BY event_type
    """,
    tags=("agg", "bitwise"),
)
def agg_bitwise_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bitwise/boolean aggregate family (BIT_AND/OR/XOR, BOOL_AND/
    OR, COUNT_IF) — feature-flag set intersection, any/all predicates,
    and conditional counting in one pass. All six are commutative,
    associative JVM aggregates with exact integer/boolean results:
    map-side partial aggregation applies, one shuffle of |groups|
    partial states, bit-identical on any engine at any parallelism."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.bit_and("user_id").alias("users_bit_and"),
        F.bit_or("user_id").alias("users_bit_or"),
        F.bit_xor("user_id").alias("users_bit_xor"),
        F.bool_and(F.col("value") >= 0.0).alias("all_nonneg"),
        F.bool_or(F.col("value") > 500.0).alias("any_large"),
        F.count_if(F.col("value") > 100.0).alias("n_over_100"),
    )


# ---------------------------------------------------------------------------
# skewness / kurtosis from exact integer power sums

# Shared expression text: parsed by BOTH Spark and DuckDB so the operand
# order (hence every IEEE rounding step) is identical. Inputs n, s1..s4
# are exact BIGINT power sums of integer l_quantity; only the closed
# forms below touch doubles.
_MEAN = "CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)"
_M2 = f"CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) - ({_MEAN}) * ({_MEAN})"
_M3 = (
    f"CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)"
    f" - 3.0 * ({_MEAN}) * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))"
    f" + 2.0 * ({_MEAN}) * ({_MEAN}) * ({_MEAN})"
)
_M4 = (
    f"CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)"
    f" - 4.0 * ({_MEAN}) * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))"
    f" + 6.0 * ({_MEAN}) * ({_MEAN}) * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))"
    f" - 3.0 * ({_MEAN}) * ({_MEAN}) * ({_MEAN}) * ({_MEAN})"
)
_SKEW = f"({_M3}) / (({_M2}) * SQRT({_M2}))"
_KURT = f"({_M4}) / (({_M2}) * ({_M2})) - 3.0"


@query(
    "agg_skew_kurt",
    oracle=f"""
    SELECT l_returnflag, CAST(n AS BIGINT) AS n_items,
           {_MEAN} AS mean_qty, {_SKEW} AS skew_qty, {_KURT} AS kurt_qty
    FROM (
        SELECT l_returnflag, COUNT(*) AS n,
               SUM(q) AS s1, SUM(q * q) AS s2,
               SUM(q * q * q) AS s3, SUM(q * q * q * q) AS s4
        FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q
              FROM lineitem)
        GROUP BY l_returnflag)
    """,
    tags=("agg", "statistics"),
)
def agg_skew_kurt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis per group — the
    distribution-shape statistics behind drift monitors and outlier
    triage. Built-in ``skewness``/``kurtosis`` sum doubles, so their
    bits depend on partition order; this engine instead aggregates the
    exact integer power sums Σq..Σq⁴ (one map-side-combined pass;
    q⁴ ≤ 50⁴·6e5 ≈ 3.8e12 ≪ 2⁵³, so even the double conversions are
    exact) and applies the closed forms via expression text shared with
    the oracle — the same moment-sketch pattern as stats_moments,
    extended to 3rd/4th moments. At 100 TB: one shuffle of 4 longs per
    group, nothing else."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("bigint")
    sums = (
        li.select("l_returnflag", q.alias("q"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("q").alias("s1"),
            F.sum(F.col("q") * F.col("q")).alias("s2"),
            F.sum(F.col("q") * F.col("q") * F.col("q")).alias("s3"),
            F.sum(F.col("q") * F.col("q") * F.col("q") * F.col("q")).alias("s4"),
        )
    )
    return sums.select(
        "l_returnflag",
        F.col("n").alias("n_items"),
        F.expr(_MEAN).alias("mean_qty"),
        F.expr(_SKEW).alias("skew_qty"),
        F.expr(_KURT).alias("kurt_qty"),
    )


# ---------------------------------------------------------------------------
# collation-aware grouping


@query(
    "collation_group",
    oracle="""
    SELECT lower(k) AS source_ci, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM (SELECT CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END
              AS k
          FROM documents)
    GROUP BY lower(k)
    """,
    tags=("scalar", "collation", "agg"),
)
def collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive grouping through Spark 4 collations: the key is
    compared under ``UTF8_LCASE`` (a property of the comparison, not a
    rewrite of the data) instead of wrapping every reference in
    ``lower()``. Semantically equal to the oracle's lower()-grouping
    for this corpus; the engine projects ``lower()`` on the output so
    the representative value is deterministic (a collated GROUP BY may
    surface any case variant). At scale, collation-aware comparison
    keeps the original bytes intact for later stages — no second
    normalized copy of the column."""
    d = load_table(spark, sf_dir, "documents")
    k = F.when(F.col("doc_id") % 2 == 0, F.upper("source")).otherwise(
        F.col("source")
    )
    return (
        d.select(F.collate(k, "UTF8_LCASE").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(F.lower("k").alias("source_ci"), "n_docs")
    )


# ---------------------------------------------------------------------------
# single-pass observed metrics (pipeline observability)


@query(
    "observe_metrics_audit",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_input,
           CAST(COUNT_IF(value > 100.0) AS BIGINT) AS n_large,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
           CAST(MIN(event_id) AS BIGINT) AS min_event_id,
           CAST(MAX(event_id) AS BIGINT) AS max_event_id
    FROM events
    """,
    tags=("observability", "agg"),
)
def observe_metrics_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability via ``DataFrame.observe``: QC metrics
    (row count, conditional count, exact money sum, id bounds —
    observed metrics disallow DISTINCT aggregates) collected DURING a
    pass over the data — the pattern that lets a
    100 TB job emit data-quality counters without a second scan (in
    streaming the same metrics surface per micro-batch through the
    listener, replacing the reference's logged per-batch counts). The
    observed values are exact integers, returned as a one-row
    DataFrame and hash-checked against the oracle's direct aggregate —
    proving observe-side metrics equal a dedicated aggregation."""
    from pyspark.sql import Observation

    ev = load_table(spark, sf_dir, "events")
    obs = Observation("qc")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_input"),
        F.count_if(F.col("value") > 100.0).alias("n_large"),
        F.sum(lcents("value")).alias("sum_cents"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
    )
    observed.write.format("noop").mode("overwrite").save()  # the "real" pass
    m = obs.get
    return local_relation(spark,
        [
            (
                m["n_input"],
                m["n_large"],
                m["sum_cents"],
                m["min_event_id"],
                m["max_event_id"],
            )
        ],
        "n_input bigint, n_large bigint, sum_cents bigint,"
        " min_event_id bigint, max_event_id bigint",
    )


# ---------------------------------------------------------------------------
# snapshot diff / reconciliation

# two deterministic "versions" of the events table: NEW drops the
# oldest fifth of ids, adds the newest, and perturbs every 13th value.
# Thresholds are fractions of MAX(event_id) (exact integer arithmetic)
# so the split holds at every scale factor.


def diff_bounds(max_id: int) -> tuple[int, int]:
    """(old_max, new_min) = (80%, 20%) of the id space."""
    return (max_id * 8) // 10, (max_id * 2) // 10


@query(
    "table_diff_reconcile",
    oracle="""
    WITH m AS (SELECT MAX(event_id) AS mx FROM events),
    old AS (
        SELECT event_id, CAST(ROUND(value * 100) AS BIGINT) AS v
        FROM events, m WHERE event_id < (mx * 8) // 10),
    new AS (
        SELECT event_id,
               CAST(ROUND(value * 100) AS BIGINT)
                   + CASE WHEN event_id % 13 = 0 THEN 100 ELSE 0 END AS v
        FROM events, m WHERE event_id >= (mx * 2) // 10)
    SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(event_id) AS BIGINT) AS min_id,
           CAST(MAX(event_id) AS BIGINT) AS max_id
    FROM (
        SELECT COALESCE(o.event_id, n.event_id) AS event_id,
               CASE WHEN o.event_id IS NULL THEN 'added'
                    WHEN n.event_id IS NULL THEN 'removed'
                    WHEN o.v <> n.v THEN 'changed'
                    ELSE 'unchanged' END AS change_type
        FROM old o FULL OUTER JOIN new n ON o.event_id = n.event_id)
    GROUP BY change_type
    """,
    tags=("cdc", "join", "governance"),
)
def table_diff_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: classify every key across two table
    versions as added / removed / changed / unchanged via one full
    outer join on the key, comparing an exact value fingerprint — the
    audit behind migration sign-offs and replication checks (here the
    versions are deterministic slices of events, with every 13th value
    perturbed to exercise the 'changed' class). At 100 TB the join
    shuffles (key, fingerprint) pairs only — a wide table compares one
    xxhash64 of its serialized row instead of every column, same plan
    shape. Complements merge_upsert_state (which builds the new state;
    this verifies two states against each other)."""
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("event_id")).first()[0]
    old_max, new_min = diff_bounds(mx)
    old = ev.where(F.col("event_id") < old_max).select(
        "event_id", lcents("value").alias("v")
    )
    new = ev.where(F.col("event_id") >= new_min).select(
        "event_id",
        (
            lcents("value")
            + F.when(F.col("event_id") % 13 == 0, F.lit(100)).otherwise(F.lit(0))
        ).alias("v"),
    )
    o, n = old.alias("o"), new.alias("n")
    joined = o.join(n, F.col("o.event_id") == F.col("n.event_id"), "full_outer")
    change = (
        F.when(F.col("o.event_id").isNull(), F.lit("added"))
        .when(F.col("n.event_id").isNull(), F.lit("removed"))
        .when(F.col("o.v") != F.col("n.v"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    key = F.coalesce(F.col("o.event_id"), F.col("n.event_id"))
    return (
        joined.select(key.alias("event_id"), change.alias("change_type"))
        .groupBy("change_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )
    )


@query(
    "pareto_frontier",
    oracle="""
    SELECT o.o_orderkey, o.o_orderdate, o.o_totalprice
    FROM orders o
    WHERE o.o_custkey < 300 AND NOT EXISTS (
        SELECT 1 FROM orders d
        WHERE d.o_custkey < 300
          AND d.o_orderdate > o.o_orderdate
          AND d.o_totalprice > o.o_totalprice)
    """,
    tags=("window", "analytics"),
)
def pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline) over (recency, value): an order
    survives iff NO other order is strictly later AND strictly more
    valuable — the multi-objective shortlist shape (best-tradeoff
    vendors, non-dominated configs, data-mix candidates). The oracle
    spells the definition directly as a quadratic NOT EXISTS; the
    engine's plan is the O(n log n) sweep that survives 100 TB:
    collapse to per-date maxima (one map-side-combinable aggregate,
    |dates| rows), take the running max over strictly-later dates with
    a 1-row-shifted window on that tiny relation, and broadcast-join
    the per-date dominance threshold back to the rows. No self-join,
    no row explosion — dominance needs only `max(price | date > d)`,
    never the pairs."""
    od = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 300)
    daily = od.groupBy("o_orderdate").agg(
        F.max("o_totalprice").alias("day_max")
    )
    w = (
        W.orderBy(F.col("o_orderdate").desc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    thresholds = daily.select(
        "o_orderdate", F.max("day_max").over(w).alias("best_later")
    )
    return (
        od.join(F.broadcast(thresholds), "o_orderdate")
        .where(
            F.col("best_later").isNull()
            | (F.col("best_later") <= F.col("o_totalprice"))
        )
        .select("o_orderkey", "o_orderdate", "o_totalprice")
    )


@query(
    "rfm_features",
    oracle="""
    WITH anchor AS (SELECT MAX(ts) AS t_max FROM events),
    ev AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(datediff('day', MAX(ts), (SELECT t_max FROM anchor))
                    AS BIGINT) AS recency_days,
               CAST(COUNT(*) FILTER (
                    WHERE ts >= (SELECT t_max FROM anchor) - INTERVAL 30 DAY)
                    AS BIGINT) AS n_events_30d
        FROM events GROUP BY user_id),
    o AS (
        SELECT o_custkey AS user_id,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS monetary_cents
        FROM orders GROUP BY o_custkey)
    SELECT e.user_id, e.recency_days, e.n_events, e.n_events_30d,
           COALESCE(o.monetary_cents, 0) AS monetary_cents
    FROM ev e LEFT JOIN o ON o.user_id = e.user_id
    """,
    tags=("analytics", "features"),
)
def rfm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The feature-store staple: Recency / Frequency / Monetary per
    user, the three columns behind every churn and LTV model — days
    since last activity (anchored to the corpus max timestamp so the
    feature set is reproducible), event counts total and trailing-30d,
    and lifetime order value in exact cents. One aggregate per source
    table + a left join; the 1-row anchor broadcasts. Everything
    integer-exact: the hash compare covers all four features."""
    ev = load_table(spark, sf_dir, "events")
    t_max = ev.agg(F.max("ts").alias("t_max"))
    e = (
        ev.crossJoin(F.broadcast(t_max))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.datediff(F.max(F.col("t_max")), F.max("ts"))
            .cast("bigint")
            .alias("recency_days"),
            F.count(
                F.when(
                    F.col("ts") >= F.col("t_max") - F.expr("INTERVAL 30 DAY"), 1
                )
            )
            .cast("bigint")
            .alias("n_events_30d"),
        )
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("monetary_cents")
        )
    )
    return e.join(o, "user_id", "left").select(
        "user_id",
        "recency_days",
        "n_events",
        "n_events_30d",
        F.coalesce("monetary_cents", F.lit(0)).alias("monetary_cents"),
    )


#: waterfall decomposition period boundary (TPC-H shipdates 1992-1998)
WATERFALL_PIVOT = "1996-01-01"


@query(
    "revenue_waterfall_decomposition",
    oracle=f"""
    WITH pp AS (
        SELECT l_partkey,
               CASE WHEN l_shipdate < TIMESTAMP '{WATERFALL_PIVOT}'
                    THEN 0 ELSE 1 END AS period,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS HUGEINT) AS q,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                    AS HUGEINT) AS rev
        FROM lineitem GROUP BY 1, 2),
    m AS (
        SELECT COALESCE(a.l_partkey, b.l_partkey) AS pk,
               COALESCE(a.q, 0) AS q0, COALESCE(a.rev, 0) AS rev0,
               COALESCE(b.q, 0) AS q1, COALESCE(b.rev, 0) AS rev1
        FROM (SELECT * FROM pp WHERE period = 0) a
        FULL OUTER JOIN (SELECT * FROM pp WHERE period = 1) b
          ON a.l_partkey = b.l_partkey),
    terms AS (
        SELECT
            SUM(rev0) AS rev0, SUM(rev1) AS rev1,
            SUM(CASE WHEN q0 > 0 AND q1 > 0
                     THEN (q1 - q0) * rev0 // q0 ELSE 0 END) AS volume_eff,
            SUM(CASE WHEN q0 > 0 AND q1 > 0
                     THEN rev1 - (q1 * rev0 // q0) ELSE 0 END) AS price_eff,
            SUM(CASE WHEN q0 = 0 THEN rev1 ELSE 0 END) AS new_parts_rev,
            SUM(CASE WHEN q1 = 0 THEN rev0 ELSE 0 END) AS lost_parts_rev
        FROM m)
    SELECT CAST(rev0 AS BIGINT) AS rev0_cents,
           CAST(rev1 AS BIGINT) AS rev1_cents,
           CAST(rev1 - rev0 AS BIGINT) AS delta_cents,
           CAST(volume_eff AS BIGINT) AS volume_eff_cents,
           CAST(price_eff AS BIGINT) AS price_eff_cents,
           CAST(new_parts_rev AS BIGINT) AS new_parts_cents,
           CAST(lost_parts_rev AS BIGINT) AS lost_parts_cents,
           CAST((rev1 - rev0) - volume_eff - price_eff - new_parts_rev
                + lost_parts_rev AS BIGINT) AS residual_cents
    FROM terms
    """,
    tags=("analytics", "finance", "statistics"),
)
def revenue_waterfall_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price/volume/mix waterfall — the FP&A decomposition of a
    period-over-period revenue change into named causes: for parts
    sold in BOTH periods, volume effect (q₁−q₀)·p̄₀ and price effect
    rev₁ − q₁·p̄₀ (p̄₀ = period-0 average unit revenue, kept as the
    exact rational rev₀/q₀ and truncated identically on both engines
    by integer div); parts entering/leaving contribute whole-revenue
    new/lost buckets; the residual column closes the identity
    Δ = volume + price + new − lost + residual exactly (it absorbs
    the per-part truncation bits — asserted small in tests). Scale
    shape: one partkey-period aggregate, a partkey full-outer join of
    two period slices (both pre-aggregated to |parts| rows), then a
    scalar reduce; every value is integer cents."""
    li = load_table(spark, sf_dir, "lineitem")
    pp = li.groupBy(
        "l_partkey",
        F.when(F.col("l_shipdate") < WATERFALL_PIVOT, 0)
        .otherwise(1)
        .alias("period"),
    ).agg(
        F.sum(F.col("l_quantity").cast("bigint"))
        .cast("decimal(38,0)")
        .alias("q"),
        F.sum(
            F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")
        )
        .cast("decimal(38,0)")
        .alias("rev"),
    )
    p0 = pp.where(F.col("period") == 0).select(
        "l_partkey", F.col("q").alias("q0"), F.col("rev").alias("rev0")
    )
    p1 = pp.where(F.col("period") == 1).select(
        "l_partkey", F.col("q").alias("q1"), F.col("rev").alias("rev1")
    )
    m = (
        p0.join(p1, "l_partkey", "full_outer")
        .select(
            F.coalesce("q0", F.lit(0)).alias("q0"),
            F.coalesce("rev0", F.lit(0)).alias("rev0"),
            F.coalesce("q1", F.lit(0)).alias("q1"),
            F.coalesce("rev1", F.lit(0)).alias("rev1"),
        )
    )
    terms = m.selectExpr(
        "rev0",
        "rev1",
        "CASE WHEN q0 > 0 AND q1 > 0"
        " THEN ((q1 - q0) * rev0) div q0 ELSE 0 END AS vol_t",
        "CASE WHEN q0 > 0 AND q1 > 0"
        " THEN rev1 - ((q1 * rev0) div q0) ELSE 0 END AS price_t",
        "CASE WHEN q0 = 0 THEN rev1 ELSE 0 END AS new_t",
        "CASE WHEN q1 = 0 THEN rev0 ELSE 0 END AS lost_t",
    ).agg(
        F.sum("rev0").cast("decimal(38,0)").alias("rev0"),
        F.sum("rev1").cast("decimal(38,0)").alias("rev1"),
        F.sum("vol_t").cast("decimal(38,0)").alias("volume_eff"),
        F.sum("price_t").cast("decimal(38,0)").alias("price_eff"),
        F.sum("new_t").cast("decimal(38,0)").alias("new_parts_rev"),
        F.sum("lost_t").cast("decimal(38,0)").alias("lost_parts_rev"),
    )
    return terms.selectExpr(
        "CAST(rev0 AS BIGINT) AS rev0_cents",
        "CAST(rev1 AS BIGINT) AS rev1_cents",
        "CAST(rev1 - rev0 AS BIGINT) AS delta_cents",
        "CAST(volume_eff AS BIGINT) AS volume_eff_cents",
        "CAST(price_eff AS BIGINT) AS price_eff_cents",
        "CAST(new_parts_rev AS BIGINT) AS new_parts_cents",
        "CAST(lost_parts_rev AS BIGINT) AS lost_parts_cents",
        "CAST((rev1 - rev0) - volume_eff - price_eff - new_parts_rev"
        " + lost_parts_rev AS BIGINT) AS residual_cents",
    )
