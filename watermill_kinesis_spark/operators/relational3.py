"""Deep-join / correlated-subquery relational surface (SURVEY.md §2-C).

Third relational batch: the remaining TPC-H query *shapes* adapted to
the driver's star schema (no ``partsupp`` table exists, so Q2/Q11/Q16/
Q20 are re-expressed through the ``lineitem`` part↔supplier bridge and
``s_acctbal``/``p_retailprice`` stand-ins), plus grouping sets, map
functions, batch sessionization, and an interval range join.

The reference (`dvictor/watermill-kinesis`) has no relational operators
at all (SURVEY.md §2-B; its 9 Go files are transport+codec only) — this
layer is the queryable engine the driver mandates on top.

Scale discipline (same as relational.py):
- dims broadcast; fact tables shuffle at most once per key;
- correlated subqueries become groupBy+join (one shuffle, no
  nested-loop), the plan Catalyst would de-correlate to anyway;
- money math in exact decimals (functions/exact.py) so results are
  bit-reproducible at any parallelism — the property the DuckDB
  oracle hash-check enforces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from watermill_kinesis_spark.functions.exact import (
    lcents,
    lfactor,
    lsum,
    dsum,
    dsum_expr,
    factor,
    money,
    sql_dsum,
    sql_factor,
    sql_money,
)
from watermill_kinesis_spark.registry import query
from watermill_kinesis_spark.sources.tables import load_table


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
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,0))) AS DOUBLE) AS sum_qty
        FROM gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
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
