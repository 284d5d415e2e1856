"""Extended relational surface: subquery patterns, HAVING, disjunctive
pushdown, and further TPC-H query shapes (SURVEY.md §2-C, Layer B).

Same discipline as operators/relational.py: declarative DataFrame API
only, broadcast dims, exact-decimal money, every computed column
aliased identically in Spark and oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from watermill_kinesis_spark.functions.exact import (
    lcents,
    lfactor,
    lsum,
    davg,
    dsum,
    dsum_expr,
    factor,
    money,
    sql_davg,
    sql_dsum,
    sql_factor,
    sql_money,
)
from watermill_kinesis_spark.registry import query
from watermill_kinesis_spark.sources.tables import load_table


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
