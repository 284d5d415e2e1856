"""Analytics wave 5: deterministic mode, bitwise/boolean aggregates,
exact-sum skewness/kurtosis, running distinct-count windows, exact
dyadic EWMA smoothing, and a tolerance-bounded as-of join.

Determinism discipline (same as analytics.py/analytics2.py): every
float reaching the oracle hash is either an exact integer ratio or an
IEEE-754 expression written operand-for-operand identically in the
DuckDB oracle — shared Python f-string constants keep the two engines'
expression text from drifting apart.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from watermill_kinesis_spark.functions.distscan import grouped_scan
from watermill_kinesis_spark.functions.exact import lcents
from watermill_kinesis_spark.functions.localrel import local_relation
from watermill_kinesis_spark.registry import query
from watermill_kinesis_spark.sources.tables import load_table

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
# running distinct count over an ordered window


@query(
    "window_count_distinct",
    oracle="""
    SELECT event_id, event_type,
           CAST(SUM(first_seen) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS distinct_users_so_far
    FROM (
        SELECT event_id, event_type, ts,
               CASE WHEN ROW_NUMBER() OVER (
                        PARTITION BY event_type, user_id
                        ORDER BY ts, event_id) = 1
                    THEN 1 ELSE 0 END AS first_seen
        FROM events)
    """,
    tags=("window", "distinct"),
)
def window_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) over an ordered window — cumulative
    unique users per event type. Spark windows don't admit DISTINCT
    aggregates, and the collect_set workaround holds every seen key in
    each row's frame state (O(n·k) memory). The engine rewrites it as
    first-occurrence marking (row_number over the (type,user) ordering
    — a DATA-scaled partition key, a fine window) plus a running SUM
    of the 0/1 markers computed by the DISTRIBUTED
    :func:`grouped_scan` prefix sum (re-planned r7: the old running
    window partitioned by the 5-value type enum over raw rows
    serialized each type's scan into one task; the scan's range
    slices + broadcast offsets give the identical cumulative sum with
    slice-level parallelism). The oracle runs the per-group-window
    form of the same rewrite, so the hash also certifies the
    decomposition."""
    ev = load_table(spark, sf_dir, "events")
    w_first = W.partitionBy("event_type", "user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    first_seen = F.when(F.row_number().over(w_first) == 1, 1).otherwise(0)
    marked = ev.select(
        "event_id", "event_type", "ts", first_seen.alias("first_seen")
    )
    scan, _ = grouped_scan(
        marked,
        ["event_type"],
        [F.col("ts").asc(), F.col("event_id").asc()],
        sum_cols=["first_seen"],
    )
    return scan.select(
        "event_id",
        "event_type",
        F.col("cum_first_seen").cast("bigint").alias("distinct_users_so_far"),
    )


# ---------------------------------------------------------------------------
# EWMA smoothing with exact dyadic arithmetic

#: EWMA window length (last K events) and the implied α = 1/2: weights
#: are powers of two, so the whole weighted sum stays exact in BIGINT.
EWMA_K = 16


def _ewma_terms() -> tuple[str, str]:
    """(numerator, denominator) SQL shared by Spark and DuckDB.

    num = Σ_{j=0..15} lag_j(value_cents) · 2^(15-j)   (exact BIGINT)
    den = 100 · (2^16 - 2^(16-min(rn,16)))            (exact BIGINT)

    so ewma = num/den is the α=1/2 EWMA over the last 16 events,
    truncated (not padded) at the partition head. Both sums are integer
    and bound by ~5e10 ≪ 2⁵³ — the final CAST/divide is one correctly
    rounded IEEE op, identical everywhere.
    """
    num = " + ".join(
        f"COALESCE(lag_{j}, CAST(0 AS BIGINT)) * {1 << (EWMA_K - 1 - j)}"
        for j in range(EWMA_K)
    )
    den = f"100 * (65536 - (CAST(1 AS BIGINT) << (16 - LEAST(rn, 16))))"
    return num, den


_EWMA_NUM, _EWMA_DEN = _ewma_terms()


@query(
    "ewma_halflife",
    oracle=f"""
    SELECT event_id, user_id,
           CAST(({_EWMA_NUM}) AS DOUBLE) / CAST(({_EWMA_DEN}) AS DOUBLE)
               AS ewma_value
    FROM (
        SELECT event_id, user_id,
               ROW_NUMBER() OVER w AS rn,
               {", ".join(
                   f"LAG(CAST(ROUND(value * 100) AS BIGINT), {j}) OVER w AS lag_{j}"
                   for j in range(EWMA_K)
               )}
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    """,
    tags=("window", "timeseries", "ewma"),
)
def ewma_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key EWMA (α = 1/2, last 16 (EWMA_K) events) — the smoothing
    primitive behind rate estimators and trend monitors. The recursion
    s_t = αv_t + (1-α)s_{{t-1}} is not window-expressible, but with α=1/2
    the truncated expansion's weights are powers of two, so the engine
    evaluates it as 16 LAG terms over one ordered window, all in exact
    BIGINT cents — no recursion, no UDF, one shuffle on the key, and
    bit-identical results at any parallelism (contrast a double
    power-weight formulation, whose rounding would drift). The oracle
    runs the same expansion."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    cents = lcents("value")
    lagged = ev.select(
        "event_id",
        "user_id",
        F.row_number().over(w).alias("rn"),
        *[F.lag(cents, j).over(w).alias(f"lag_{j}") for j in range(EWMA_K)],
    )
    ewma = F.expr(
        f"CAST(({_EWMA_NUM}) AS DOUBLE) / CAST(({_EWMA_DEN}) AS DOUBLE)"
    )
    return lagged.select("event_id", "user_id", ewma.alias("ewma_value"))


# ---------------------------------------------------------------------------
# as-of join with a freshness tolerance

ASOF_TOLERANCE_DAYS = 7


@query(
    "join_asof_tolerance",
    oracle=f"""
    WITH ranked AS (
        SELECT e.event_id, e.user_id, e.ts,
               o.o_orderkey, o.o_orderdate, o.o_totalprice,
               ROW_NUMBER() OVER (
                   PARTITION BY e.event_id
                   ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        FROM events e
        LEFT JOIN orders o
          ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
         AND o.o_orderdate >= e.ts - INTERVAL {ASOF_TOLERANCE_DAYS} DAY
    )
    SELECT event_id, user_id,
           o_orderkey AS asof_orderkey,
           o_orderdate AS asof_orderdate,
           o_totalprice AS asof_totalprice
    FROM ranked WHERE rn = 1
    """,
    tags=("join", "asof", "event-time"),
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a freshness bound: each event matches the user's
    most recent order at or before the event time ONLY if it is within
    7 (ASOF_TOLERANCE_DAYS) days — stale state is surfaced as NULL rather
    than silently joined (pandas ``merge_asof(tolerance=...)``; DuckDB
    has no tolerance clause, so its oracle bounds the join predicate).
    Implementation extends join_asof_events' union-scan: one shuffle on
    the key, last-order carry-forward, then a pure projection nulls out
    carried matches older than the tolerance — the scan pattern and its
    O(n log n) scale behavior are unchanged by the bound."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("uid"),
        F.col("ts").alias("t"),
        F.lit(0).alias("is_order"),
        "event_id",
        F.lit(None).cast("bigint").alias("o_orderkey"),
        F.lit(None).cast("timestamp_ntz").alias("o_orderdate"),
        F.lit(None).cast("double").alias("o_totalprice"),
    )
    od = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("uid"),
        F.col("o_orderdate").alias("t"),
        F.lit(1).alias("is_order"),
        F.lit(None).cast("bigint").alias("event_id"),
        "o_orderkey",
        "o_orderdate",
        "o_totalprice",
    )
    w = (
        W.partitionBy("uid")
        .orderBy(F.col("t").asc(), F.col("is_order").desc(), F.col("o_orderkey").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = F.last(
        F.when(
            F.col("is_order") == 1,
            F.struct("o_orderkey", "o_orderdate", "o_totalprice"),
        ),
        ignorenulls=True,
    ).over(w)
    fresh = F.col("asof.o_orderdate") >= F.col("t") - F.expr(
        f"INTERVAL {ASOF_TOLERANCE_DAYS} DAY"
    )
    return (
        ev.unionByName(od)
        .withColumn("asof", carried)
        .where(F.col("is_order") == 0)
        .select(
            "event_id",
            F.col("uid").alias("user_id"),
            F.when(fresh, F.col("asof.o_orderkey")).alias("asof_orderkey"),
            F.when(fresh, F.col("asof.o_orderdate")).alias("asof_orderdate"),
            F.when(fresh, F.col("asof.o_totalprice")).alias("asof_totalprice"),
        )
    )


# ---------------------------------------------------------------------------
# forward as-of join (next-event direction)


@query(
    "join_asof_forward",
    oracle="""
    WITH ranked AS (
        SELECT e.event_id, e.user_id, e.ts,
               o.o_orderkey, o.o_orderdate, o.o_totalprice,
               ROW_NUMBER() OVER (
                   PARTITION BY e.event_id
                   ORDER BY o.o_orderdate ASC, o.o_orderkey ASC) AS rn
        FROM events e
        LEFT JOIN orders o
          ON e.user_id = o.o_custkey AND o.o_orderdate >= e.ts
    )
    SELECT event_id, user_id,
           o_orderkey AS next_orderkey,
           o_orderdate AS next_orderdate,
           o_totalprice AS next_totalprice
    FROM ranked WHERE rn = 1
    """,
    tags=("join", "asof", "event-time"),
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: for each event, the user's NEXT order at or
    after the event time (ties broken by min order key) — the
    attribution direction ("which purchase followed this touchpoint"),
    mirror of join_asof_events' state-lookup direction. Same union-scan
    pattern run in reverse: one shuffle on the key, descending time
    order with events sorting before same-instant orders, and
    ``last(..., ignorenulls)`` carrying the nearest FUTURE order
    backward. O(n log n) per key, zero row explosion — same scale
    shape as the backward join."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("uid"),
        F.col("ts").alias("t"),
        F.lit(0).alias("is_order"),
        "event_id",
        F.lit(None).cast("bigint").alias("o_orderkey"),
        F.lit(None).cast("timestamp_ntz").alias("o_orderdate"),
        F.lit(None).cast("double").alias("o_totalprice"),
    )
    od = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("uid"),
        F.col("o_orderdate").alias("t"),
        F.lit(1).alias("is_order"),
        F.lit(None).cast("bigint").alias("event_id"),
        "o_orderkey",
        "o_orderdate",
        "o_totalprice",
    )
    # Descending time: walking the partition, 'last seen order' is the
    # EARLIEST order ≥ t. Orders sort before events at equal t
    # (is_order DESC under descending scan ⇒ orders first), and among
    # equal-t orders descending o_orderkey makes the LAST seen the min
    # key — matching the oracle's ASC/ASC rank.
    w = (
        W.partitionBy("uid")
        .orderBy(
            F.col("t").desc(), F.col("is_order").desc(), F.col("o_orderkey").desc()
        )
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = F.last(
        F.when(
            F.col("is_order") == 1,
            F.struct("o_orderkey", "o_orderdate", "o_totalprice"),
        ),
        ignorenulls=True,
    ).over(w)
    return (
        ev.unionByName(od)
        .withColumn("nxt", carried)
        .where(F.col("is_order") == 0)
        .select(
            "event_id",
            F.col("uid").alias("user_id"),
            F.col("nxt.o_orderkey").alias("next_orderkey"),
            F.col("nxt.o_orderdate").alias("next_orderdate"),
            F.col("nxt.o_totalprice").alias("next_totalprice"),
        )
    )


@query(
    "join_asof_nearest",
    oracle="""
    WITH ranked AS (
        SELECT e.event_id, e.user_id, e.ts,
               o.o_orderkey, o.o_orderdate,
               CASE WHEN o.o_orderdate <= e.ts THEN 0 ELSE 1 END AS dirflag,
               ROW_NUMBER() OVER (
                   PARTITION BY e.event_id
                   ORDER BY abs(datediff('day', CAST(e.ts AS DATE),
                                         o.o_orderdate)) ASC,
                            CASE WHEN o.o_orderdate <= e.ts THEN 0 ELSE 1 END ASC,
                            CASE WHEN o.o_orderdate <= e.ts
                                 THEN -o.o_orderkey ELSE o.o_orderkey END ASC
               ) AS rn
        FROM events e
        LEFT JOIN orders o ON e.user_id = o.o_custkey)
    SELECT event_id, user_id,
           o_orderkey AS nearest_orderkey,
           o_orderdate AS nearest_orderdate,
           CASE WHEN o_orderdate IS NULL THEN NULL
                WHEN dirflag = 0 THEN 'backward' ELSE 'forward' END AS direction
    FROM ranked WHERE rn = 1
    """,
    tags=("join", "asof", "event-time"),
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join — the fourth and final direction of the
    as-of family (backward = `join_asof_events`, forward =
    `join_asof_forward`, bounded = `join_asof_tolerance`): for each
    event, the user's order with the smallest |day distance|, ties
    resolved backward (pandas ``merge_asof direction='nearest'``
    semantics), per-direction key tie-breaks inherited from the
    directional ops (backward → max key, forward → min key) so all
    four variants agree on their shared edges.

    Scale shape: COMPOSITION, not a new kernel — the two directional
    as-ofs each run their scalable union-scan (one shuffle, no row
    explosion), then one event_id-keyed join picks the nearer side
    with plain column arithmetic. The naive spelling (left-join all
    the user's orders, rank by distance) explodes by orders-per-user;
    the oracle runs exactly that as the independent check."""
    from watermill_kinesis_spark.operators.windows import join_asof_events

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    b = join_asof_events(spark, sf_dir).select(
        "event_id", "user_id", "asof_orderkey", "asof_orderdate"
    )
    f = join_asof_forward(spark, sf_dir).select(
        F.col("event_id").alias("f_event_id"), "next_orderkey", "next_orderdate"
    )
    j = (
        b.join(f, b.event_id == f.f_event_id)
        .join(ev, "event_id")
        .drop("f_event_id")
    )
    d_b = F.abs(F.datediff(F.col("ts").cast("date"), F.col("asof_orderdate")))
    d_f = F.abs(F.datediff(F.col("next_orderdate"), F.col("ts").cast("date")))
    take_backward = F.col("asof_orderdate").isNotNull() & (
        F.col("next_orderdate").isNull() | (d_b <= d_f)
    )
    return j.select(
        "event_id",
        "user_id",
        F.when(take_backward, F.col("asof_orderkey"))
        .otherwise(F.col("next_orderkey"))
        .alias("nearest_orderkey"),
        F.when(take_backward, F.col("asof_orderdate"))
        .otherwise(F.col("next_orderdate"))
        .alias("nearest_orderdate"),
        F.when(
            F.col("asof_orderdate").isNull() & F.col("next_orderdate").isNull(),
            F.lit(None).cast("string"),
        )
        .when(take_backward, F.lit("backward"))
        .otherwise(F.lit("forward"))
        .alias("direction"),
    )


#: Benford's law reference distribution, permille per leading digit
#: 1..9 (log10(1+1/d), rounded to integer permille — a fixed constant
#: table, so no engine evaluates a logarithm)
BENFORD_PERMILLE = (301, 176, 125, 97, 79, 67, 58, 51, 46)


@query(
    "benford_first_digit_audit",
    oracle=f"""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice * 100) AS BIGINT)
                                AS VARCHAR), 1, 1) AS BIGINT) AS digit
        FROM orders WHERE o_totalprice > 0),
    ref(digit, benford_permille) AS (
        VALUES {", ".join(f"({d + 1}, {p})" for d, p in enumerate(BENFORD_PERMILLE))})
    SELECT r.digit,
           CAST(COALESCE(COUNT(d.digit), 0) AS BIGINT) AS n,
           CAST(CASE WHEN (SELECT COUNT(*) FROM digits) = 0 THEN NULL
                ELSE COALESCE(COUNT(d.digit), 0) * 1000
                     // (SELECT COUNT(*) FROM digits) END AS BIGINT)
               AS observed_permille,
           CAST(r.benford_permille AS BIGINT) AS benford_permille
    FROM ref r LEFT JOIN digits d USING (digit)
    GROUP BY r.digit, r.benford_permille
    """,
    tags=("statistics", "data-quality", "audit"),
)
def benford_first_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law leading-digit census over order totals — the
    classic anomaly/fabrication screen for financial-ish magnitudes
    (synthetic uniform data deviates loudly, which is itself the
    point: the report shows HOW a feed's digit profile compares to the
    reference). Log-free on both engines: the leading significant
    digit comes from the exact cent integer's decimal string (a
    ``floor(p/10^floor(log10 p))`` formulation silently misbins at
    powers of ten, where IEEE log10(1000) = 2.999…96), and the
    reference distribution is a fixed integer-permille constant table
    (FLOOR before the bigint cast on BOTH engines: Spark's double→
    bigint cast truncates while DuckDB's rounds, so a bare cast would
    split digits at d·10^k boundaries on data without exact cents —
    r8 review). Cost, stated honestly: one map-side-combined 9-group
    aggregate plus a scalar count — two passes over the SINGLE pruned
    o_totalprice column (the scalar's SinglePartition exchange differs
    from the group-by's hash exchange, so Spark does not reuse it);
    no extra shuffle, both build sides broadcast as 9-row/1-row
    relations, plan-audit clean."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    digits = o.select(
        F.expr(
            "CAST(substring(CAST(CAST(FLOOR(o_totalprice * 100) AS BIGINT)"
            " AS STRING), 1, 1) AS BIGINT)"
        ).alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    # scalar total folded from the aggregated ≤9-row relation — a
    # benign 1-row broadcast build side per the plan-audit rules
    tot1 = counts.agg(F.sum("n").alias("tot"))
    ref = local_relation(spark, 
        [(d + 1, p) for d, p in enumerate(BENFORD_PERMILLE)],
        "digit bigint, benford_permille bigint",
    )
    return (
        ref.join(F.broadcast(counts), "digit", "left")
        .crossJoin(F.broadcast(tot1))
        .select(
            "digit",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
            # degenerate guard (r8 ADVICE): on an empty corpus `tot`
            # is NULL here (SUM over no rows) so `div` yields NULL;
            # the oracle's CASE pins the same NULL where DuckDB's
            # `// 0` would otherwise diverge loudly
            F.expr("COALESCE(n, 0) * 1000 div tot")
            .cast("bigint")
            .alias("observed_permille"),
            "benford_permille",
        )
    )
