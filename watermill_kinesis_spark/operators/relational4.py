"""Fourth relational batch: full window-analytics family, ordered
string aggregation, interpolated percentiles, and the min-per-group
join-back (TPC-H Q2 shape without partsupp).

Reference basis: none — the reference engine (dvictor/watermill-kinesis,
SURVEY.md §2-B) has no relational surface; this is driver-mandated
Layer B. Same determinism discipline as relational.py (unique-key tie
breaks in every ORDER BY; exact or correctly-rounded float paths only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from watermill_kinesis_spark.registry import query
from watermill_kinesis_spark.sources.tables import load_table


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
    from watermill_kinesis_spark.functions.exact import lcents, lfactor

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
    from watermill_kinesis_spark.functions.exact import lcents

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
