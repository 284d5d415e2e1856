"""Analytics wave 6: LOCF forward-fill, period-over-period deltas,
XML shredding, and collation-aware grouping.

Determinism discipline unchanged: every float reaching the oracle hash
is raw data, an exact integer ratio, or expression text shared with the
DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from watermill_kinesis_spark.functions.distscan import (
    grouped_order_stats,
    grouped_scan,
    ntile_closed_form,
)
from watermill_kinesis_spark.functions.exact import lcents
from watermill_kinesis_spark.functions.localrel import local_relation
from watermill_kinesis_spark.registry import query
from watermill_kinesis_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# forward fill (last observation carried forward)

#: sparsity threshold: readings at or below this are treated as missing
LOCF_MISSING_BELOW = 100.0


@query(
    "forward_fill_locf",
    oracle=f"""
    SELECT event_id, user_id,
           (value <= {LOCF_MISSING_BELOW}) AS was_missing,
           LAST_VALUE(CASE WHEN value > {LOCF_MISSING_BELOW} THEN value END
                      IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS filled_value
    FROM events
    """,
    tags=("window", "timeseries"),
)
def forward_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward: sensor-style gap repair where
    missing readings (here: values ≤ 100.0 (LOCF_MISSING_BELOW), standing in
    for NULLs) inherit the key's most recent valid reading. One ordered
    window per key with ``last(..., ignorenulls=True)`` — a single
    shuffle on the key, linear per-row state, and the filled values are
    raw data passthrough (no arithmetic), so the hash match is exact.
    Complements timeseries_gapfill (which densifies missing ROWS; this
    repairs missing VALUES on existing rows)."""
    ev = load_table(spark, sf_dir, "events")
    valid = F.when(F.col("value") > LOCF_MISSING_BELOW, F.col("value"))
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        (F.col("value") <= LOCF_MISSING_BELOW).alias("was_missing"),
        F.last(valid, ignorenulls=True).over(w).alias("filled_value"),
    )


# ---------------------------------------------------------------------------
# period-over-period growth


@query(
    "period_over_period",
    oracle="""
    SELECT day, CAST(rev_cents AS BIGINT) AS rev_cents,
           CAST(rev_cents - prev AS BIGINT) AS delta_cents,
           CASE WHEN prev IS NULL OR prev = 0 THEN NULL
                ELSE CAST(rev_cents - prev AS DOUBLE) / CAST(prev AS DOUBLE)
           END AS pct_change
    FROM (
        SELECT day, rev_cents,
               LAG(rev_cents) OVER (ORDER BY day) AS prev
        FROM (
            SELECT date_trunc('day', ts) AS day,
                   SUM(CAST(ROUND(value * 100) AS BIGINT)) AS rev_cents
            FROM events GROUP BY 1))
    """,
    tags=("window", "timeseries", "agg"),
)
def period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day growth: daily revenue, absolute delta, and percent
    change — the reporting primitive behind every trend dashboard.
    Revenue aggregates in exact integer cents (map-side combinable, one
    shuffle to |days| rows); LAG runs on the tiny aggregate, so the
    unpartitioned window orders days, not data — constant volume at any
    scale. pct_change is one exact-long division written identically in
    the oracle."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.sum(lcents("value")).alias("rev_cents")
    )
    w = W.partitionBy().orderBy("day")
    prev = F.lag("rev_cents").over(w)
    delta = F.col("rev_cents") - prev
    pct = F.when(
        prev.isNull() | (prev == 0), F.lit(None).cast("double")
    ).otherwise(delta.cast("double") / prev.cast("double"))
    return daily.select(
        "day",
        "rev_cents",
        delta.alias("delta_cents"),
        pct.alias("pct_change"),
    ).select("day", "rev_cents", "delta_cents", "pct_change")


# ---------------------------------------------------------------------------
# XML shredding (the other semi-structured ingest format)


@query(
    "xml_shred",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
           CAST(SUM(user_id) AS BIGINT) AS sum_uid
    FROM events GROUP BY event_type
    """,
    tags=("scalar", "xml", "format"),
)
def xml_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingest via Spark 4's built-in ``from_xml`` — the enterprise
    sibling of variant_shred: each event re-serializes to an XML
    fragment, parses back through a typed schema, and aggregates from
    the shredded struct. The oracle aggregates the raw columns, so a
    hash match proves serialize→parse→shred is lossless. Values are
    exact integers end-to-end; the parse is a JVM expression at scan
    speed (no Python, no RDD)."""
    ev = load_table(spark, sf_dir, "events")
    xml = F.concat(
        F.lit("<e><t>"),
        F.col("event_type"),
        F.lit("</t><c>"),
        lcents("value").cast("string"),
        F.lit("</c><u>"),
        F.col("user_id").cast("string"),
        F.lit("</u></e>"),
    )
    parsed = ev.select(
        F.from_xml(xml, "t STRING, c BIGINT, u BIGINT").alias("x")
    )
    return (
        parsed.select(
            F.col("x.t").alias("event_type"),
            F.col("x.c").alias("cents"),
            F.col("x.u").alias("uid"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("sum_cents"),
            F.sum("uid").alias("sum_uid"),
        )
    )


# ---------------------------------------------------------------------------
# z-order layout (multi-dimensional data skipping)

#: bits per dimension → 2^(2·ZORDER_BITS) z-buckets
ZORDER_BITS = 4


def _z_interleave_sql(bx: str, by: str, intdiv: str = "DIV") -> str:
    """Bit-interleave two {ZORDER_BITS}-bit ints into a z-value — pure
    integer div/mod arithmetic, exact on any engine. The only dialect
    difference is the integer-division spelling (Spark ``DIV``,
    DuckDB ``//``); every operand is an exact integer, so the results
    are identical regardless."""
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"(({bx} {intdiv} {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"(({by} {intdiv} {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


@query(
    "zorder_layout",
    oracle=f"""
    SELECT zbucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(l_partkey) AS min_part, MAX(l_partkey) AS max_part,
           MIN(l_suppkey) AS min_supp, MAX(l_suppkey) AS max_supp
    FROM (
        SELECT l_partkey, l_suppkey,
               {_z_interleave_sql(f"(l_partkey % {1 << ZORDER_BITS})",
                                  f"(l_suppkey % {1 << ZORDER_BITS})",
                                  intdiv="//")} AS zbucket
        FROM lineitem)
    GROUP BY zbucket
    """,
    tags=("layout", "scan"),
)
def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering layout: interleaving the bits of two
    key dimensions gives a 1-D sort key under which contiguous file
    groups cover small rectangles of the 2-D key space — so min/max
    file statistics prune scans on EITHER dimension (the Delta/Iceberg
    OPTIMIZE ZORDER technique, here as a first-class operator). The
    z-value is pure integer div/mod arithmetic (shared text with the
    oracle); the output is each z-bucket's row count and per-dimension
    min/max — exactly the skipping statistics a writer would persist.
    At 100 TB: add dimensions by extending the interleave, widen
    ZORDER_BITS to match file count, write with
    ``df.repartitionByRange(zbucket).sortWithinPartitions``."""
    li = load_table(spark, sf_dir, "lineitem")
    z = F.expr(
        _z_interleave_sql(
            f"(l_partkey % {1 << ZORDER_BITS})", f"(l_suppkey % {1 << ZORDER_BITS})"
        )
    )
    return (
        li.select("l_partkey", "l_suppkey", z.alias("zbucket"))
        .groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_partkey").alias("min_part"),
            F.max("l_partkey").alias("max_part"),
            F.min("l_suppkey").alias("min_supp"),
            F.max("l_suppkey").alias("max_supp"),
        )
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
# contingency table with expected counts (categorical drift primitive)


@query(
    "crosstab_expected",
    oracle="""
    WITH cells AS (
        -- DuckDB dayofweek is 0-based (Sun=0), Spark's 1-based (Sun=1)
        SELECT event_type, dayofweek(ts) + 1 AS dow, COUNT(*) AS o
        FROM events GROUP BY 1, 2),
    tot AS (
        SELECT event_type, dow, o,
               SUM(o) OVER (PARTITION BY event_type) AS row_tot,
               SUM(o) OVER (PARTITION BY dow) AS col_tot,
               SUM(o) OVER () AS n
        FROM cells)
    SELECT event_type, CAST(dow AS BIGINT) AS dow, CAST(o AS BIGINT) AS observed,
           CAST(row_tot * col_tot AS DOUBLE) / CAST(n AS DOUBLE) AS expected,
           CAST(o AS DOUBLE)
               / (CAST(row_tot * col_tot AS DOUBLE) / CAST(n AS DOUBLE)) AS lift
    FROM tot
    """,
    tags=("agg", "statistics"),
)
def crosstab_expected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency table of event type × day-of-week with
    independence-expected counts and lift — the categorical-drift
    primitive (a chi-square test is one further aggregation over these
    cells). One data-scale aggregate down to |types × 7| cells;
    marginals come from windows over that tiny cell table, and every
    float is a division of exact integer products written identically
    in the oracle (no cross-row double summation anywhere)."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy("event_type", F.dayofweek("ts").alias("dow")).agg(
        F.count(F.lit(1)).alias("o")
    )
    row_tot = F.sum("o").over(W.partitionBy("event_type"))
    col_tot = F.sum("o").over(W.partitionBy("dow"))
    n = F.sum("o").over(W.partitionBy())
    expected = (row_tot * col_tot).cast("double") / n.cast("double")
    return cells.select(
        "event_type",
        F.col("dow").cast("bigint").alias("dow"),
        F.col("o").alias("observed"),
        expected.alias("expected"),
        (F.col("o").cast("double") / expected).alias("lift"),
    )


# ---------------------------------------------------------------------------
# pairwise correlation matrix from exact sums

# corr(x, y) from exact power sums, text shared with the oracle. The
# numerator/denominator cancellations are computed in double, but both
# engines execute the identical operand sequence over exactly-converted
# integer sums, so the bits match.
def _corr_sql(x: str, y: str) -> str:
    n = "CAST(n AS DOUBLE)"
    return (
        f"({n} * CAST(s_{x}{y} AS DOUBLE) - CAST(s_{x} AS DOUBLE) * CAST(s_{y} AS DOUBLE))"
        f" / (SQRT({n} * CAST(s_{x}{x} AS DOUBLE) - CAST(s_{x} AS DOUBLE) * CAST(s_{x} AS DOUBLE))"
        f" * SQRT({n} * CAST(s_{y}{y} AS DOUBLE) - CAST(s_{y} AS DOUBLE) * CAST(s_{y} AS DOUBLE)))"
    )


@query(
    "corr_matrix_exact",
    oracle=f"""
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           {_corr_sql('q', 'p')} AS corr_qty_price,
           {_corr_sql('q', 'd')} AS corr_qty_disc,
           {_corr_sql('p', 'd')} AS corr_price_disc
    FROM (
        SELECT l_returnflag, COUNT(*) AS n,
               SUM(q) AS s_q, SUM(p) AS s_p, SUM(d) AS s_d,
               SUM(q * q) AS s_qq, SUM(p * p) AS s_pp, SUM(d * d) AS s_dd,
               SUM(q * p) AS s_qp, SUM(q * d) AS s_qd, SUM(p * d) AS s_pd
        FROM (
            SELECT l_returnflag,
                   CAST(l_quantity AS BIGINT) AS q,
                   CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS p,
                   CAST(ROUND(l_discount * 100) AS BIGINT) AS d
            FROM lineitem)
        GROUP BY l_returnflag)
    """,
    tags=("agg", "statistics"),
)
def corr_matrix_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix (quantity × price ×
    discount) per return flag, from exact integer power sums — the
    multi-column extension of stats_moments' moment-sketch pattern.
    One map-side-combined aggregate carries 10 sums per group; the
    closed forms run over exactly-converted integers with shared
    expression text, so unlike builtin ``corr`` (Welford partials merge
    in shuffle-arrival order) the bits are identical at any
    parallelism. Price-cents squares reach ~6e19 × rows, past 2^63 —
    the sums run in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB), both
    exact, both correctly rounded on the final double conversion."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        "l_returnflag",
        F.col("l_quantity").cast("bigint").alias("q"),
        lcents("l_extendedprice").alias("p"),
        lcents("l_discount").alias("d"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    sums = base.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("s_q"),
        F.sum("p").alias("s_p"),
        F.sum("d").alias("s_d"),
        F.sum(dec(F.col("q") * F.col("q"))).alias("s_qq"),
        F.sum(dec(F.col("p")) * dec(F.col("p"))).alias("s_pp"),
        F.sum(dec(F.col("d") * F.col("d"))).alias("s_dd"),
        F.sum(dec(F.col("q")) * dec(F.col("p"))).alias("s_qp"),
        F.sum(dec(F.col("q") * F.col("d"))).alias("s_qd"),
        F.sum(dec(F.col("p")) * dec(F.col("d"))).alias("s_pd"),
    )
    return sums.select(
        "l_returnflag",
        F.col("n").alias("n"),
        F.expr(_corr_sql("q", "p")).alias("corr_qty_price"),
        F.expr(_corr_sql("q", "d")).alias("corr_qty_disc"),
        F.expr(_corr_sql("p", "d")).alias("corr_price_disc"),
    )


# ---------------------------------------------------------------------------
# first-order event-transition matrix (Markov journey analytics)


@query(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events),
    pairs AS (
        SELECT prev_type, event_type AS next_type, COUNT(*) AS n_transitions
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY 1, 2)
    SELECT prev_type, next_type, CAST(n_transitions AS BIGINT) AS n_transitions,
           CAST(n_transitions AS DOUBLE)
               / CAST(SUM(n_transitions) OVER (PARTITION BY prev_type) AS DOUBLE)
               AS p_next
    FROM pairs
    """,
    tags=("agg", "markov", "event-time"),
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order transition matrix over per-user event journeys:
    P(next event type | current), the Markov model behind journey
    mining, anomaly detection on flows, and session simulators. One
    window pass (LAG over the per-user time order — same shuffle any
    sessionization pays) collapses the data to |types|² pairs; the
    row-normalization divides exact counts by the per-row total from a
    window over that tiny matrix. Both divisions' operands are exact
    integers ⇒ bit-stable."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    pairs = (
        ev.select(
            "event_type", F.lag("event_type").over(w).alias("prev_type")
        )
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    row_total = F.sum("n_transitions").over(W.partitionBy("prev_type"))
    return pairs.select(
        "prev_type",
        "next_type",
        "n_transitions",
        (F.col("n_transitions").cast("double") / row_total.cast("double")).alias(
            "p_next"
        ),
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


# ---------------------------------------------------------------------------
# lagged cross-correlation (lead/lag analysis between two event series)

#: maximum day lag (inclusive) for lagged_cross_correlation
XCORR_MAX_LAG = 7


@query(
    "lagged_cross_correlation",
    oracle=f"""
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS x,
               CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS y
        FROM events GROUP BY day),
    bounds AS (SELECT MIN(day) AS mn, MAX(day) AS mx FROM d),
    spine AS (SELECT CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE)
                  AS day FROM bounds),
    daily AS (SELECT s.day, COALESCE(d.x, 0) AS x, COALESCE(d.y, 0) AS y
              FROM spine s LEFT JOIN d USING (day)),
    lags AS (SELECT unnest(range(0, {XCORR_MAX_LAG + 1})) AS lag),
    pairs AS (
        SELECT l.lag, a.x, b.y
        FROM daily a CROSS JOIN lags l
        JOIN daily b ON b.day = a.day + CAST(l.lag AS INT)),
    sums AS (
        SELECT lag, COUNT(*) AS n,
               SUM(x) AS s_x, SUM(y) AS s_y, SUM(x * y) AS s_xy,
               SUM(x * x) AS s_xx, SUM(y * y) AS s_yy
        FROM pairs GROUP BY lag)
    SELECT CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n_days,
           CASE WHEN n * s_xx - s_x * s_x <= 0
                     OR n * s_yy - s_y * s_y <= 0 THEN NULL
                ELSE (CAST(n AS DOUBLE) * CAST(s_xy AS DOUBLE)
                        - CAST(s_x AS DOUBLE) * CAST(s_y AS DOUBLE))
                     / (SQRT(CAST(n AS DOUBLE) * CAST(s_xx AS DOUBLE)
                           - CAST(s_x AS DOUBLE) * CAST(s_x AS DOUBLE))
                      * SQRT(CAST(n AS DOUBLE) * CAST(s_yy AS DOUBLE)
                           - CAST(s_y AS DOUBLE) * CAST(s_y AS DOUBLE)))
           END AS xcorr
    FROM sums
    """,
    tags=("event-time", "statistics"),
)
def lagged_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead/lag analysis: Pearson cross-correlation between the daily
    click series and the purchase series shifted 0..7 (XCORR_MAX_LAG)
    days forward — 'do clicks predict purchases k days later?', the
    standard question behind attribution windows and forecasting
    features.

    Exact-arithmetic discipline (corr_matrix_exact's pattern): daily
    counts are BIGINTs on a zero-filled day spine (both engines build
    the identical spine, so lag alignment can't drift on missing days);
    per-lag power sums are integer-exact; the single double conversion
    happens in the same closed form on both engines. Plan: one scan →
    |days| rows; the lag join replicates the x side (XCORR_MAX_LAG+1)×
    over a |days|-sized frame — constant-size at any corpus scale, the
    heavy lifting (event scan) happens exactly once."""
    ev = load_table(spark, sf_dir, "events")
    d = (
        ev.select(F.col("ts").cast("date").alias("day"), "event_type")
        .groupBy("day")
        .agg(
            F.count(F.when(F.col("event_type") == "click", 1))
            .cast("bigint")
            .alias("x"),
            F.count(F.when(F.col("event_type") == "purchase", 1))
            .cast("bigint")
            .alias("y"),
        )
    )
    bounds = d.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    spine = bounds.select(
        F.explode(F.sequence("mn", "mx")).alias("day")
    )
    daily = spine.join(d, "day", "left").select(
        "day",
        F.coalesce("x", F.lit(0)).alias("x"),
        F.coalesce("y", F.lit(0)).alias("y"),
    )
    lags = spark.range(0, XCORR_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = daily.select("day", "x").crossJoin(F.broadcast(lags))
    b = daily.select(F.col("day").alias("bday"), "y")
    pairs = a.join(b, F.expr("bday = date_add(day, lag)"))
    sums = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s_x"),
        F.sum("y").alias("s_y"),
        F.sum(F.col("x") * F.col("y")).alias("s_xy"),
        F.sum(F.col("x") * F.col("x")).alias("s_xx"),
        F.sum(F.col("y") * F.col("y")).alias("s_yy"),
    )
    out = sums.select(
        F.col("lag").cast("int").alias("lag"),
        F.col("n").cast("bigint").alias("n_days"),
        # zero-variance guard (r13 fixture-suite find): a degenerate
        # lag window (constant series, or a 1-pair window at high lag
        # on a short spine) has no defined correlation — emit NULL
        # instead of ANSI-mode DIVIDE_BY_ZERO; identical spelling in
        # the oracle so the gate compares the same contract
        F.expr(
            "CASE WHEN n * s_xx - s_x * s_x <= 0"
            " OR n * s_yy - s_y * s_y <= 0 THEN NULL"
            " ELSE (CAST(n AS DOUBLE) * CAST(s_xy AS DOUBLE)"
            " - CAST(s_x AS DOUBLE) * CAST(s_y AS DOUBLE))"
            " / (SQRT(CAST(n AS DOUBLE) * CAST(s_xx AS DOUBLE)"
            " - CAST(s_x AS DOUBLE) * CAST(s_x AS DOUBLE))"
            " * SQRT(CAST(n AS DOUBLE) * CAST(s_yy AS DOUBLE)"
            " - CAST(s_y AS DOUBLE) * CAST(s_y AS DOUBLE)))"
            " END"
        ).alias("xcorr"),
    )
    return out


# ---------------------------------------------------------------------------
# session path analysis (top user journeys)

#: path prefix length and result size for session_path_analysis
PATH_PREFIX_LEN = 3
PATH_TOP_N = 25


@query(
    "session_path_analysis",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, CAST(ts AS DATE) AS day, event_type,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id, CAST(ts AS DATE)
                   ORDER BY ts, event_id) AS rn
        FROM events),
    paths AS (
        SELECT user_id, day,
               string_agg(event_type, '>' ORDER BY rn) AS path
        FROM seq WHERE rn <= {PATH_PREFIX_LEN}
        GROUP BY user_id, day)
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT {PATH_TOP_N}
    """,
    tags=("event-time", "journey"),
)
def session_path_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user journeys: the ordered first-3 (PATH_PREFIX_LEN) event
    types of each (user, day) session, ranked by frequency — the
    n-gram extension of `event_transition_matrix`'s bigrams, the query
    behind 'what do users actually do first'.

    Determinism discipline: Spark's collect_list order is
    shuffle-arrival-dependent, so the path is built by sorting
    (rn, event_type) structs — a total order both engines share (rn is
    unique per session) — before joining into the path string. The
    window partitions by (user, day): millions of small partitions at
    100 TB, never one big one; the path table is ≤|sessions| rows and
    the final top-N is a TakeOrderedAndProject."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "day").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        "event_type",
        "ts",
        "event_id",
    ).withColumn("rn", F.row_number().over(w))
    paths = (
        seq.where(F.col("rn") <= PATH_PREFIX_LEN)
        .groupBy("user_id", "day")
        .agg(
            F.concat_ws(
                ">",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rn", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(PATH_TOP_N)
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
    "mad_robust_stats",
    oracle="""
    WITH med AS (
        SELECT event_type, quantile_disc(value, 0.5) AS med
        FROM events GROUP BY event_type),
    dev AS (
        SELECT e.event_type, abs(e.value - m.med) AS adev, m.med
        FROM events e JOIN med m USING (event_type))
    SELECT event_type,
           CAST(ANY_VALUE(med) AS DOUBLE) AS median_value,
           CAST(quantile_disc(adev, 0.5) AS DOUBLE) AS mad
    FROM dev GROUP BY event_type
    """,
    tags=("statistics", "analytics"),
)
def mad_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust dispersion per group: exact median and exact MAD
    (median absolute deviation) — the outlier-resistant alternative to
    stddev that data-quality monitors want when a corpus has heavy
    tails. Two grouped exact order statistics, each via the
    DISTRIBUTED selection (re-planned r7: the old per-group
    ``row_number`` windows partitioned by the 5-value type enum over
    raw rows serialized each group's sort into one task at scale;
    :func:`grouped_scan`'s range slices + broadcast offsets give the
    identical global rank with slice-level parallelism). Deviations
    join back against the broadcast per-group medians, then the same
    selection again. Both engines pick rank floor((n−1)/2)+1
    (DuckDB's quantile_disc index) — the selected VALUE is invariant
    to tie order, so the monotonic-id tiebreak only has to be a total
    order, not a canonical one — and medians/MADs are pass-through
    doubles: bit-exact compare."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")

    def disc_median(df: DataFrame, col: str, out: str) -> DataFrame:
        return grouped_order_stats(
            spark, df, ["event_type"], col, {out: lambda n: (n - 1) // 2 + 1}
        )

    med = disc_median(ev, "value", "median_value")
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "median_value",
        F.abs(F.col("value") - F.col("median_value")).alias("adev"),
    )
    mad = disc_median(dev.select("event_type", "adev"), "adev", "mad")
    return med.join(mad, "event_type")


@query(
    "benford_first_digit",
    oracle="""
    WITH digits AS (
        SELECT CAST(substring(CAST(CAST(value AS DOUBLE) AS VARCHAR), 1, 1)
                    AS INT) AS digit
        FROM events WHERE value >= 1),
    tot AS (SELECT COUNT(*) AS n FROM digits)
    SELECT digit,
           CAST(COUNT(*) AS BIGINT) AS n_values,
           CAST(COUNT(*) * 1000000 // (SELECT n FROM tot) AS BIGINT)
               AS share_ppm
    FROM digits GROUP BY digit
    """,
    tags=("statistics", "quality"),
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution — the Benford's-law data
    QA probe (fabricated or truncated numeric columns show up as a
    skewed digit histogram). Values ≥ 1, so the first character of the
    decimal rendering IS the first significant digit in both engines;
    the share is exact integer parts-per-million (count·10⁶ // total —
    no float division crosses the compare). One map-side-combinable
    aggregate plus a 1-row broadcast scalar for the total."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value") >= 1)
    digits = ev.select(
        F.substring(F.col("value").cast("double").cast("string"), 1, 1)
        .cast("int")
        .alias("digit")
    )
    total = digits.count()
    return digits.groupBy("digit").agg(
        F.count(F.lit(1)).alias("n_values"),
        F.floor(F.count(F.lit(1)) * 1_000_000 / F.lit(total))
        .cast("bigint")
        .alias("share_ppm"),
    )


@query(
    "dataset_card_report",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(trim(text), ' '))) AS BIGINT)
               AS total_tokens,
           CAST(quantile_disc(n_chars, 0.5) AS BIGINT) AS median_chars,
           CAST(COUNT(*) FILTER (WHERE lang = 'en') * 1000000 // COUNT(*)
                AS BIGINT) AS en_share_ppm
    FROM documents GROUP BY source
    """,
    tags=("reporting", "llm-pipeline"),
)
def dataset_card_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source DATASET CARD — the datasheet row every corpus
    release ships (docs, token volume, length profile, language share)
    and the input to mixing-weight decisions. One scan: counts, token
    totals and the exact integer ppm language share are a single
    map-side-combinable aggregate; the median is the per-group rank
    selection (partitioned window — parallel per source, identical
    discrete index to the oracle's quantile_disc)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.size(F.split(F.trim("text"), " "))
    base = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(toks).cast("bigint").alias("total_tokens"),
        F.floor(
            F.count(F.when(F.col("lang") == "en", 1)) * 1_000_000
            / F.count(F.lit(1))
        )
        .cast("bigint")
        .alias("en_share_ppm"),
    )
    w = W.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = d.select(
        "source",
        "n_chars",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(W.partitionBy("source")).alias("n"),
    )
    med = ranked.where(
        F.col("rk") == F.floor((F.col("n") - 1) / 2).cast("long") + 1
    ).select("source", F.col("n_chars").cast("bigint").alias("median_chars"))
    return base.join(med, "source").select(
        "source", "n_docs", "total_tokens", "median_chars", "en_share_ppm"
    )


@query(
    "quantile_bucket_stats",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, n_chars,
               ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rk,
               COUNT(*) OVER () AS n
        FROM documents),
    tiled AS (
        SELECT doc_id, n_chars,
               -- NTILE(8) in closed form over the global rank: the
               -- first (n % 8) buckets take (n//8 + 1) rows each
               CASE WHEN rk <= (n // 8 + 1) * (n % 8)
                    THEN CAST(ceil(rk / (n // 8 + 1.0)) AS INT)
                    ELSE CAST((n % 8) + ceil((rk - (n // 8 + 1) * (n % 8))
                                             / (n // 8 * 1.0)) AS INT)
               END AS bucket
        FROM ranked)
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM tiled GROUP BY bucket
    """,
    tags=("statistics", "pipeline", "llm-pipeline"),
)
def quantile_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth bucketing by document length — the quantile-binning
    step before per-band curriculum mixing or length-stratified
    sampling: 8 equal-population bands with boundaries and mass,
    NTILE semantics (first n%8 buckets take one extra row) written in
    closed form over the global rank. The rank comes from
    :func:`grouped_scan` with no group columns — NO global
    single-partition window anywhere, so the same plan holds at
    100 TB. The (n_chars, doc_id) composite key makes assignment
    deterministic in both engines."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    ranked, totals = grouped_scan(d, [], [F.col("n_chars"), F.col("doc_id")])
    n = totals[()]["n"] if totals else 0
    tiled = ranked.select(
        "n_chars",
        ntile_closed_form(F.col("rn"), F.lit(n), 8).cast("int").alias("bucket"),
    )
    return tiled.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@query(
    "peak_concurrency",
    oracle="""
    WITH iv AS (
        SELECT l_suppkey,
               datediff('day', DATE '1992-01-01', l_shipdate) AS s,
               datediff('day', DATE '1992-01-01', l_shipdate)
                   + (CAST(l_quantity AS INT) % 14) + 1 AS e
        FROM lineitem WHERE l_suppkey < 100),
    deltas AS (
        SELECT l_suppkey, s AS t, 1 AS d FROM iv
        UNION ALL
        SELECT l_suppkey, e AS t, -1 AS d FROM iv),
    swept AS (
        SELECT l_suppkey,
               SUM(d) OVER (PARTITION BY l_suppkey ORDER BY t, d DESC
                            ROWS UNBOUNDED PRECEDING) AS open_now
        FROM deltas)
    SELECT l_suppkey AS suppkey,
           CAST(MAX(open_now) AS BIGINT) AS peak_concurrent
    FROM swept GROUP BY l_suppkey
    """,
    tags=("event-time", "interval", "analytics"),
)
def peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent open intervals per key — the max-simultaneous-
    sessions / warehouse-load shape — via the classic +1/−1 boundary
    sweep: explode each interval into (start, +1) and (end, −1),
    running-sum per key ordered by (time, +1 before −1 at ties — a
    closing and an opening interval at the same instant DO overlap
    under half-open [s, e) only if ordered opens-first; both engines
    pin the same tie order), take the max. Two rows per interval
    through one partitioned window — no interval join at all."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_suppkey") < 100)
    s = F.datediff(F.col("l_shipdate"), F.lit("1992-01-01").cast("date"))
    e = s + (F.col("l_quantity").cast("int") % 14) + 1
    iv = li.select(F.col("l_suppkey"), s.alias("s"), e.alias("e"))
    deltas = iv.select("l_suppkey", F.col("s").alias("t"), F.lit(1).alias("d")).unionAll(
        iv.select("l_suppkey", F.col("e").alias("t"), F.lit(-1).alias("d"))
    )
    w = (
        W.partitionBy("l_suppkey")
        .orderBy(F.col("t").asc(), F.col("d").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    swept = deltas.select(
        "l_suppkey", F.sum("d").over(w).alias("open_now")
    )
    return swept.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.max("open_now").cast("bigint").alias("peak_concurrent")
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


#: z-statistic from exact integer power sums — ONE shared expression
#: text evaluated by both engines (sqrt and division are IEEE
#: correctly-rounded, so identical inputs give identical doubles).
#: Inputs: n_a/n_b (counts) and s1/s2 per arm in exact value-cents.
_AB_Z = """
    (CAST(s1a AS DOUBLE) / CAST(n_a AS DOUBLE)
     - CAST(s1b AS DOUBLE) / CAST(n_b AS DOUBLE))
    / sqrt(
        (CAST(s2a AS DOUBLE) / CAST(n_a AS DOUBLE)
         - (CAST(s1a AS DOUBLE) / CAST(n_a AS DOUBLE))
           * (CAST(s1a AS DOUBLE) / CAST(n_a AS DOUBLE)))
        / CAST(n_a AS DOUBLE)
      + (CAST(s2b AS DOUBLE) / CAST(n_b AS DOUBLE)
         - (CAST(s1b AS DOUBLE) / CAST(n_b AS DOUBLE))
           * (CAST(s1b AS DOUBLE) / CAST(n_b AS DOUBLE)))
        / CAST(n_b AS DOUBLE))
"""


@query(
    "ab_test_report",
    oracle=f"""
    WITH arms AS (
        SELECT event_type,
               CAST(COUNT(*) FILTER (WHERE user_id % 2 = 0) AS BIGINT) AS n_a,
               CAST(COUNT(*) FILTER (WHERE user_id % 2 = 1) AS BIGINT) AS n_b,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT))
                    FILTER (WHERE user_id % 2 = 0) AS BIGINT) AS s1a,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT))
                    FILTER (WHERE user_id % 2 = 1) AS BIGINT) AS s1b,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)
                        * CAST(ROUND(value * 100) AS BIGINT))
                    FILTER (WHERE user_id % 2 = 0) AS BIGINT) AS s2a,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)
                        * CAST(ROUND(value * 100) AS BIGINT))
                    FILTER (WHERE user_id % 2 = 1) AS BIGINT) AS s2b
        FROM events GROUP BY event_type)
    SELECT event_type, n_a, n_b, s1a, s1b,
           {_AB_Z} AS z_score
    FROM arms
    """,
    tags=("analytics", "statistics", "experimentation"),
)
def ab_test_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The experimentation readout: per metric (event type), a
    two-sample z-statistic between arms A/B (deterministic hash split
    on user_id) over the value metric — counts, exact cent sums, and
    the z-score computed from exact integer power sums by ONE
    expression text shared verbatim with the oracle (IEEE
    correctly-rounded sqrt/divide ⇒ bit-identical). The per-arm
    moments are one map-side-combinable aggregate; nothing but the
    final statistic is floating point."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    is_a = F.col("user_id") % 2 == 0
    arms = ev.groupBy("event_type").agg(
        F.count(F.when(is_a, 1)).cast("bigint").alias("n_a"),
        F.count(F.when(~is_a, 1)).cast("bigint").alias("n_b"),
        F.sum(F.when(is_a, cents)).cast("bigint").alias("s1a"),
        F.sum(F.when(~is_a, cents)).cast("bigint").alias("s1b"),
        F.sum(F.when(is_a, cents * cents)).cast("bigint").alias("s2a"),
        F.sum(F.when(~is_a, cents * cents)).cast("bigint").alias("s2b"),
    )
    return arms.select(
        "event_type", "n_a", "n_b", "s1a", "s1b",
        F.expr(_AB_Z).alias("z_score"),
    )


@query(
    "seasonal_naive_error",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents
        FROM events GROUP BY event_type, day),
    scored AS (
        SELECT event_type, day, cents,
               LAG(cents, 7) OVER (PARTITION BY event_type ORDER BY day)
                   AS forecast
        FROM daily)
    SELECT event_type,
           CAST(COUNT(forecast) AS BIGINT) AS n_days_scored,
           CAST(SUM(abs(cents - forecast)) AS BIGINT) AS sum_abs_err_cents,
           CAST(MAX(abs(cents - forecast)) AS BIGINT) AS max_abs_err_cents
    FROM scored GROUP BY event_type
    """,
    tags=("timeseries", "forecast", "analytics"),
)
def seasonal_naive_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive backtest — the forecasting BASELINE every model
    must beat (M-competition practice: forecast(d) = actual(d − season))
    — scored in exact integer cents: daily revenue per event type,
    weekly seasonality (lag 7 over days), per-type absolute-error
    totals. The lag window orders DAYS per type — calendar-bounded
    rows, not data-bounded — after the daily rollup reduced the corpus,
    so the window is constant-size at any event volume; errors are
    integer cents end to end (no float drift between engines)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(lcents("value")).alias("cents"))
    w = W.partitionBy("event_type").orderBy("day")
    forecast = F.lag("cents", 7).over(w)
    scored = daily.select(
        "event_type", "cents", forecast.alias("forecast")
    )
    err = F.abs(F.col("cents") - F.col("forecast"))
    return scored.groupBy("event_type").agg(
        F.count("forecast").alias("n_days_scored"),
        F.sum(err).alias("sum_abs_err_cents"),
        F.max(err).alias("max_abs_err_cents"),
    )


@query(
    "multi_touch_attribution_linear",
    oracle="""
    WITH conv AS (
        SELECT event_id AS conv_id, user_id, ts AS conv_ts
        FROM events WHERE event_type = 'purchase'),
    touches AS (
        SELECT c.conv_id, e.event_type,
               COUNT(*) OVER (PARTITION BY c.conv_id) AS n_touches
        FROM conv c JOIN events e
          ON e.user_id = c.user_id
         AND e.ts < c.conv_ts
         AND e.ts >= c.conv_ts - INTERVAL 7 DAY
         AND e.event_type <> 'purchase')
    SELECT event_type,
           CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_conversions_touched,
           CAST(SUM(1000000 // n_touches) AS BIGINT) AS credit_ppm
    FROM touches GROUP BY event_type
    """,
    tags=("analytics", "attribution", "event"),
)
def multi_touch_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution — every purchase's credit is
    split EQUALLY across the user's touches (non-purchase events) in
    the preceding 7 days, the marketing-analytics baseline between
    last-touch and data-driven models. Credit is integer ppm
    (1000000 div n_touches per touch), so per-type totals are exact
    on both engines. The touch join keys on user_id with a bounded
    time predicate — a per-user range join whose fan-out is the
    user's own 7-day activity, never a cross join; the per-conversion
    count is a conversion-keyed window over already-joined rows."""
    ev = load_table(spark, sf_dir, "events")
    conv = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("conv_ts"),
    )
    touches = conv.join(
        ev.where(F.col("event_type") != "purchase").select(
            "user_id", "event_type", "ts"
        ),
        (F.col("user_id") == F.col("c_user"))
        & (F.col("ts") < F.col("conv_ts"))
        & (F.col("ts") >= F.col("conv_ts") - F.expr("INTERVAL 7 DAY")),
    )
    n_touches = F.count(F.lit(1)).over(W.partitionBy("conv_id"))
    credited = touches.select(
        "conv_id", "event_type", n_touches.alias("n_touches")
    )
    return credited.groupBy("event_type").agg(
        F.count_distinct("conv_id").alias("n_conversions_touched"),
        F.sum(F.expr("1000000 div n_touches")).alias("credit_ppm"),
    )


@query(
    "arrival_inversions",
    oracle="""
    WITH inv AS (
        SELECT a.user_id, CAST(COUNT(*) AS HUGEINT) AS n_inv
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND a.event_id < b.event_id
         AND a.ts > b.ts
        GROUP BY a.user_id),
    cnt AS (
        SELECT user_id, CAST(COUNT(*) AS HUGEINT) AS k
        FROM events GROUP BY user_id)
    SELECT c.user_id,
           CAST(c.k AS BIGINT) AS n_events,
           CAST(COALESCE(i.n_inv, 0) AS BIGINT) AS n_inversions,
           CAST(c.k * (c.k - 1) // 2 AS BIGINT) AS n_pairs,
           CAST(COALESCE(i.n_inv, 0) * 1000
                // (c.k * (c.k - 1) // 2) AS BIGINT) AS disorder_permille
    FROM cnt c LEFT JOIN inv i USING (user_id)
    WHERE c.k >= 2
    """,
    tags=("evaluation", "streaming", "event-time"),
)
def arrival_inversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-disorder audit: per user, the number of event pairs
    whose EVENT-TIME order disagrees with their ARRIVAL order
    (event_id) — the normalized Kendall distance between the two
    orderings, i.e. exactly the quantity a watermark delay must
    absorb (0‰ ⇒ in-order source; high permille ⇒ deep reordering ⇒
    longer watermark or more dropped-late rows). Computed per key
    with a numpy-vectorized merge counter (searchsorted per pass,
    O(k log²k) with C inner loops) where the oracle's all-pairs join
    is O(k²) — the honest scale path for the same exact integers
    (per-key sequences are bounded; corpus scale lives in the number
    of keys, which ``applyInPandas`` shards by hash)."""
    import numpy as np
    import pandas as pd

    from watermill_kinesis_spark.sources.tables import adaptive_partitions

    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts")
        # EXPLICIT count on the grouping exchange (optimization round
        # 14, guide §2.5 — AQE is blind to per-group Python cost): the
        # groupBy-applyInPandas shuffle carries ~1.6 MB at sf0.1, so
        # AQE coalesced it to ONE partition and a single Python worker
        # walked every user group sequentially (profiled 5.6 s wall,
        # 0.26 s JVM CPU — per-group pandas-frame overhead × ~1k
        # groups). REPARTITION_BY_NUM is exempt from coalescing and
        # the groupBy reuses the partitioning.
        .repartition(
            adaptive_partitions(spark, sf_dir, "events", expand=10),
            "user_id",
        )
    )

    def count_inversions(vals: "np.ndarray") -> int:
        # bottom-up merge counting with VECTORIZED passes: per block
        # pair, each right-run element x contributes the number of
        # left-run elements strictly greater than x — len(left) −
        # searchsorted(left, x, 'right') summed in one numpy call
        # (strict: equal timestamps are NOT inversions, matching the
        # oracle's a.ts > b.ts). The merge itself is a C-speed sort of
        # the concatenated (already pairwise-sorted) block. O(k log²k)
        # with numpy inner loops — the r6 review replaced the original
        # element-at-a-time Python mergesort on this hot path.
        arr = vals.copy()
        n = len(arr)
        inv = 0
        width = 1
        while width < n:
            for lo in range(0, n, 2 * width):
                mid = min(lo + width, n)
                hi = min(lo + 2 * width, n)
                if mid >= hi:
                    continue
                left = arr[lo:mid]
                right = arr[mid:hi]
                pos = np.searchsorted(left, right, side="right")
                inv += int((len(left) - pos).sum())
                arr[lo:hi] = np.sort(arr[lo:hi], kind="stable")
            width *= 2
        return inv

    def per_user(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("event_id")
        k = len(pdf)
        if k < 2:
            return pd.DataFrame(
                columns=[
                    "user_id",
                    "n_events",
                    "n_inversions",
                    "n_pairs",
                    "disorder_permille",
                ]
            )
        ts_ns = pdf["ts"].astype("int64").to_numpy()
        inv = count_inversions(ts_ns)
        pairs = k * (k - 1) // 2
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_events": [k],
                "n_inversions": [inv],
                "n_pairs": [pairs],
                "disorder_permille": [inv * 1000 // pairs],
            }
        )

    return ev.groupBy("user_id").applyInPandas(
        per_user,
        "user_id long, n_events long, n_inversions long, n_pairs long, "
        "disorder_permille long",
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


@query(
    "sequence_gap_audit",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_id,
               LAG(event_id) OVER (PARTITION BY user_id
                                   ORDER BY event_id) AS prev_id
        FROM events),
    gaps AS (
        SELECT user_id,
               CASE WHEN prev_id IS NOT NULL AND event_id - prev_id > 1
                    THEN 1 ELSE 0 END AS has_gap,
               CASE WHEN prev_id IS NOT NULL
                    THEN event_id - prev_id - 1 ELSE 0 END AS missing
        FROM seq)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(has_gap) AS BIGINT) AS n_gaps,
           CAST(SUM(missing) AS BIGINT) AS n_missing_ids,
           CAST(MAX(missing) AS BIGINT) AS max_gap
    FROM gaps GROUP BY user_id
    HAVING SUM(has_gap) > 0
    """,
    tags=("evaluation", "streaming", "data-quality"),
)
def sequence_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-number gap detection per key — the data-loss audit a
    consumer runs over a monotonically-numbered feed (Kinesis
    sequence numbers, CDC LSNs, outbox ids): LAG over the ordered ids
    finds every hole, reporting gap count, total missing ids, and the
    widest hole per key; only keys WITH gaps surface (the alert
    surface, not a full census). One per-key window + one aggregate —
    partitioned, linear, and the exact complement of the uuid-dedup
    exactly-once check (dedup catches doubles; this catches holes)."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("event_id")
    seq = ev.select(
        "user_id",
        "event_id",
        F.lag("event_id").over(w).alias("prev_id"),
    )
    gaps = seq.select(
        "user_id",
        F.when(
            F.col("prev_id").isNotNull()
            & (F.col("event_id") - F.col("prev_id") > 1),
            1,
        )
        .otherwise(0)
        .alias("has_gap"),
        F.when(
            F.col("prev_id").isNotNull(),
            F.col("event_id") - F.col("prev_id") - 1,
        )
        .otherwise(0)
        .alias("missing"),
    )
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("has_gap").cast("bigint").alias("n_gaps"),
            F.sum("missing").cast("bigint").alias("n_missing_ids"),
            F.max("missing").cast("bigint").alias("max_gap"),
        )
        .where(F.col("n_gaps") > 0)
    )


@query(
    "winsorized_mean_exact",
    oracle="""
    WITH b AS (
        SELECT event_type,
               quantile_disc(value, 0.05) AS p05,
               quantile_disc(value, 0.95) AS p95
        FROM events GROUP BY event_type),
    w AS (
        SELECT e.event_type, b.p05, b.p95,
               CAST(ROUND(LEAST(GREATEST(e.value, b.p05), b.p95) * 100)
                    AS BIGINT) AS cents
        FROM events e JOIN b USING (event_type))
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ANY_VALUE(p05) AS DOUBLE) AS p05,
           CAST(ANY_VALUE(p95) AS DOUBLE) AS p95,
           CAST(SUM(cents) AS BIGINT) AS winsorized_sum_cents,
           CAST(CAST(SUM(cents) AS HUGEINT) * 10000 // COUNT(*) AS BIGINT)
               AS winsorized_mean_micro
    FROM w GROUP BY event_type
    """,
    tags=("statistics", "analytics", "quality"),
)
def winsorized_mean_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per group — the robust location estimate that
    clamps (not drops) the tails at the exact p05/p95 order statistics
    before averaging, completing the robust-statistics family beside
    :func:`mad_robust_stats`. The percentile picks are EXACT
    distributed selection, not approxQuantile: :func:`grouped_scan`'s
    range slices + broadcast offsets give every row its global
    per-group rank with slice-level parallelism (never a window over
    the 5-value enum), and the pick rank replicates DuckDB's
    ``quantile_disc`` convention — rank = ⌈q·n⌉ with q as an EXACT
    decimal, i.e. ``(95·n + 99) // 100`` in pure integers (a float
    ``0.95·n`` ceil disagrees whenever the product grazes an integer:
    0.95·20 is 19 exactly in decimal but 19.000000000000004 in
    binary). Clamping happens against the broadcast |groups|-row
    bounds relation; the mean crosses the compare as exact integers:
    the cent sum ACCUMULATES as decimal(38,0) on Spark (DuckDB's
    SUM(BIGINT) is already HUGEINT) and the micro mean divides at that
    width, so the arithmetic itself never wraps at any corpus size —
    only the reported bigint sum column saturates its cast past 2⁶³,
    loudly on both engines, never silently wrong. Two selection
    shuffles + one map-side-combinable aggregate."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    bounds = grouped_order_stats(
        spark,
        ev,
        ["event_type"],
        "value",
        {
            # ⌈q·n⌉ is already ≥ 1 for every n ≥ 1 — no floor guard
            "p05": lambda n: (5 * n + 99) // 100,
            "p95": lambda n: (95 * n + 99) // 100,
        },
    )
    cents = F.round(
        F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95")) * 100
    ).cast("bigint")
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .select("event_type", "p05", "p95", cents.alias("cents"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("p05").alias("p05"),
            F.min("p95").alias("p95"),
            # accumulate at decimal(38,0) width — the SUM itself never
            # wraps; only the reported bigint cast below can saturate
            F.sum(F.col("cents").cast("decimal(38,0)")).alias("__sum_dec"),
        )
        .selectExpr(
            "event_type",
            "n",
            "p05",
            "p95",
            "CAST(__sum_dec AS BIGINT) AS winsorized_sum_cents",
            "CAST(__sum_dec * 10000 div n AS BIGINT)"
            " AS winsorized_mean_micro",
        )
    )


@query(
    "iqr_outlier_fences",
    oracle="""
    WITH q AS (
        SELECT event_type,
               quantile_disc(value, 0.25) AS q1,
               quantile_disc(value, 0.75) AS q3
        FROM events GROUP BY event_type)
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ANY_VALUE(q.q1) AS DOUBLE) AS q1,
           CAST(ANY_VALUE(q.q3) AS DOUBLE) AS q3,
           CAST(COUNT(*) FILTER (
               WHERE e.value < q.q1 - 1.5 * (q.q3 - q.q1)) AS BIGINT)
               AS n_below_fence,
           CAST(COUNT(*) FILTER (
               WHERE e.value > q.q3 + 1.5 * (q.q3 - q.q1)) AS BIGINT)
               AS n_above_fence
    FROM events e JOIN q USING (event_type)
    GROUP BY e.event_type
    """,
    tags=("statistics", "analytics", "quality"),
)
def iqr_outlier_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey boxplot outlier census per group: exact q1/q3 order
    statistics via the shared :func:`grouped_order_stats` distributed
    selection (rank = ⌈q·n⌉ in pure integers — DuckDB's exact-decimal
    ``quantile_disc`` convention, see ``winsorized_mean_exact``), then
    one broadcast-join pass counting values beyond the classic
    1.5·IQR fences — the standard data-quality outlier report beside
    :func:`mad_robust_stats` (which fences on MAD instead). The fence
    arithmetic runs the IDENTICAL IEEE expression on both engines over
    the same pass-through doubles, so the counts cross the compare as
    exact integers. One selection shuffle + one map-side-combinable
    aggregate; the bounds relation is |groups| rows, broadcast."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    q = grouped_order_stats(
        spark,
        ev,
        ["event_type"],
        "value",
        {
            # ⌈q·n⌉ is already ≥ 1 for every n ≥ 1 — no floor guard
            "q1": lambda n: (25 * n + 99) // 100,
            "q3": lambda n: (75 * n + 99) // 100,
        },
    )
    iqr = F.col("q3") - F.col("q1")
    return (
        ev.join(F.broadcast(q), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("q1").alias("q1"),
            F.min("q3").alias("q3"),
            F.sum(
                (F.col("value") < F.col("q1") - 1.5 * iqr).cast("long")
            ).cast("bigint").alias("n_below_fence"),
            F.sum(
                (F.col("value") > F.col("q3") + 1.5 * iqr).cast("long")
            ).cast("bigint").alias("n_above_fence"),
        )
    )


@query(
    "cusum_changepoint_days",
    oracle="""
    WITH cells AS (
        SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS c
        FROM events GROUP BY 1, 2),
    tot AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(c) AS BIGINT) AS total
        FROM cells GROUP BY 1),
    scan AS (
        SELECT c.event_type, c.day, t.n_days,
               t.n_days * CAST(SUM(c.c) OVER w AS BIGINT)
                   - CAST(ROW_NUMBER() OVER w AS BIGINT) * t.total AS s
        FROM cells c JOIN tot t USING (event_type)
        WINDOW w AS (PARTITION BY c.event_type ORDER BY c.day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    ranked AS (
        SELECT event_type, n_days, day, ABS(s) AS a,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY ABS(s) DESC, day) AS rk
        FROM scan)
    SELECT event_type, n_days,
           CAST(a AS BIGINT) AS max_abs_cusum_scaled,
           day AS changepoint_day
    FROM ranked WHERE rk = 1
    """,
    tags=("statistics", "timeseries", "drift"),
)
def cusum_changepoint_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection over each event type's daily
    VOLUME (Page 1954, the classic drift alarm for ingest monitoring):
    the cumulative deviation from the group mean peaks at the most
    likely shift point. Complements ``cusum_changepoint``
    (relational5.py), which runs the same statistic over the raw
    per-event VALUE series and therefore needs the distscan
    decomposition; this operator's axis is the calendar day, so the
    pre-aggregation bounds the windowed relation instead. Kept integer-exact by scaling with the day
    count — S'_t = n_days·Σ_{i≤t} x_i − t·ΣX = n_days·S_t — so the
    argmax and the reported magnitude are bit-identical on both
    engines (a float running mean would accumulate rounding). Emits
    the scaled peak and its day (ties → earliest day). Scale shape:
    events pre-aggregate map-side to (type, day) cells — ONE shuffle —
    and every window below runs over the pre-aggregated, time-bounded
    day axis (≤ |days| rows per type at ANY corpus size; the
    enum-partition guard explicitly allows aggregate-fed windows), so
    the single-task scan touches a calendar's worth of rows, not
    N/|types|."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    wall = W.partitionBy("event_type")
    wcum = wall.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    scan = cells.select(
        "event_type",
        "day",
        F.count(F.lit(1)).over(wall).alias("n_days"),
        (
            F.count(F.lit(1)).over(wall) * F.sum("c").over(wcum)
            - F.row_number().over(wall.orderBy("day"))
            * F.sum("c").over(wall)
        ).alias("s"),
    )
    best = scan.groupBy("event_type").agg(
        F.max("n_days").cast("bigint").alias("n_days"),
        F.min(F.struct((-F.abs("s")).alias("neg_a"), F.col("day"))).alias(
            "pick"
        ),
    )
    return best.select(
        "event_type",
        "n_days",
        (-F.col("pick.neg_a")).cast("bigint").alias("max_abs_cusum_scaled"),
        F.col("pick.day").alias("changepoint_day"),
    )


#: funnel completion window: every later step must land within this
#: many microseconds of the user's FIRST view
FUNNEL_WINDOW_US = 7 * 86_400_000_000


@query(
    "funnel_conversion_windows",
    oracle=f"""
    WITH v AS (
        SELECT user_id, MIN(epoch_us(ts)) AS vt FROM events
        WHERE event_type = 'view' AND user_id IS NOT NULL GROUP BY 1),
    c AS (
        SELECT e.user_id, MIN(epoch_us(e.ts)) AS ct
        FROM events e JOIN v USING (user_id)
        WHERE e.event_type = 'click' AND epoch_us(e.ts) >= v.vt
        GROUP BY 1),
    p AS (
        SELECT e.user_id, MIN(epoch_us(e.ts)) AS pt
        FROM events e JOIN c USING (user_id)
        WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= c.ct
        GROUP BY 1)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_viewers,
           CAST(COUNT_IF(ct IS NOT NULL
                         AND ct - vt <= {FUNNEL_WINDOW_US}) AS BIGINT)
               AS n_clicked,
           CAST(COUNT_IF(pt IS NOT NULL
                         AND pt - vt <= {FUNNEL_WINDOW_US}) AS BIGINT)
               AS n_purchased,
           CAST(CASE WHEN COUNT(*) = 0 THEN 0
                ELSE COUNT_IF(pt IS NOT NULL AND pt - vt <= {FUNNEL_WINDOW_US})
                     * 1000 // COUNT(*) END AS BIGINT) AS conversion_permille
    FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
    """,
    tags=("analytics", "funnel", "event-time"),
)
def funnel_conversion_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion (view → click → purchase) with a
    7-day completion window — the product-analytics staple that naive
    per-type MIN aggregates get WRONG: each step's timestamp is the
    first occurrence AT OR AFTER the previous step (a click before the
    first view must not count), so the funnel is a chain of
    conditional MINs, each joined against the prior stage. Exact
    integer microseconds (``unix_micros`` ↔ ``epoch_us``) keep the
    window comparisons bit-identical. Scale shape: three
    filtered-aggregate passes each clustered on user_id (map-side
    combine, high-cardinality keys), two equi-joins on user_id, and a
    final scalar fold — no windows, no skew axis; the stage-k relation
    only shrinks (funnel monotonicity)."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(us).alias("vt"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .select("user_id", us.alias("t"))
        .join(v, "user_id")
        .where(F.col("t") >= F.col("vt"))
        .groupBy("user_id")
        .agg(F.min("t").alias("ct"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", us.alias("t"))
        .join(c, "user_id")
        .where(F.col("t") >= F.col("ct"))
        .groupBy("user_id")
        .agg(F.min("t").alias("pt"))
    )
    w = F.lit(FUNNEL_WINDOW_US)
    joined = v.join(c, "user_id", "left").join(p, "user_id", "left")
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_viewers"),
        F.count_if(
            F.col("ct").isNotNull() & (F.col("ct") - F.col("vt") <= w)
        )
        .cast("bigint")
        .alias("n_clicked"),
        F.count_if(
            F.col("pt").isNotNull() & (F.col("pt") - F.col("vt") <= w)
        )
        .cast("bigint")
        .alias("n_purchased"),
        # degenerate guard (r8 ADVICE): on zero viewers Spark's `div`
        # yields NULL while DuckDB's `//` diverges — pin 0 on both
        F.expr(
            "CAST(CASE WHEN count(1) = 0 THEN 0"
            f" ELSE count_if(pt IS NOT NULL AND pt - vt <= {FUNNEL_WINDOW_US})"
            " * 1000 div count(1) END AS BIGINT)"
        ).alias("conversion_permille"),
    )


# ---------------------------------------------------------------------------
# Hilbert-curve layout (the locality-stronger sibling of z-order)

#: bits per dimension → a 2^HILBERT_BITS × 2^HILBERT_BITS grid and
#: 4^HILBERT_BITS hilbert buckets (matches ZORDER_BITS so the two
#: layouts are directly comparable)
HILBERT_BITS = 4


def _hilbert_d_sql(x: str, y: str, intdiv: str = "DIV") -> str:
    """xy→d on the order-``HILBERT_BITS`` Hilbert curve as ONE nested
    SQL expression, shared verbatim between engines (the
    ``_z_interleave_sql`` convention; only the integer-division
    spelling differs). The classic loop (per level: quadrant digit
    from the two high bits, then reflect/transpose the frame) is
    unrolled into ``HILBERT_BITS`` nested SELECTs over (x, y, d) —
    state threading the optimizer collapses into straight-line
    integer arithmetic. No bitwise XOR anywhere: ``^`` means POWER in
    DuckDB, so the quadrant digit (3·rx)⊕ry is spelled as the
    explicit 4-case CASE."""
    inner = f"SELECT {x} AS x, {y} AS y, 0 AS d FROM __src__"
    for lvl in range(HILBERT_BITS - 1, -1, -1):
        s = 1 << lvl
        rx = f"((x {intdiv} {s}) % 2)"
        ry = f"((y {intdiv} {s}) % 2)"
        digit = (
            f"(CASE WHEN {rx} = 0 AND {ry} = 0 THEN 0"
            f"      WHEN {rx} = 0 AND {ry} = 1 THEN 1"
            f"      WHEN {rx} = 1 AND {ry} = 1 THEN 2"
            f"      ELSE 3 END)"
        )
        # rotation operates on the SUB-SQUARE coordinates (x % s):
        # reflecting the raw coordinate (s-1-x) goes negative whenever
        # the extracted high bit was set, and negative div/mod then
        # diverges between engines — masking first keeps every
        # intermediate in [0, s) (verified equivalent to the classic
        # formulation and pinned against it in tests)
        new_x = (
            f"(CASE WHEN {ry} = 0 THEN"
            f" (CASE WHEN {rx} = 1 THEN {s} - 1 - (y % {s})"
            f"       ELSE y % {s} END)"
            f" ELSE x % {s} END)"
        )
        new_y = (
            f"(CASE WHEN {ry} = 0 THEN"
            f" (CASE WHEN {rx} = 1 THEN {s} - 1 - (x % {s})"
            f"       ELSE x % {s} END)"
            f" ELSE y % {s} END)"
        )
        inner = (
            f"SELECT {new_x} AS x, {new_y} AS y,"
            f" d + {s * s} * {digit} AS d FROM ({inner})"
        )
    return inner


@query(
    "hilbert_curve_layout",
    oracle=f"""
    WITH __src__ AS (
        SELECT l_partkey, l_suppkey,
               l_partkey % {1 << HILBERT_BITS} AS hx,
               l_suppkey % {1 << HILBERT_BITS} AS hy
        FROM lineitem),
    hd AS ({_hilbert_d_sql("hx", "hy", intdiv="//")
            .replace("FROM __src__",
                     ", l_partkey AS pk, l_suppkey AS sk FROM __src__")
            .replace("AS d FROM (", "AS d, pk, sk FROM (")})
    SELECT d AS hbucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(pk) AS min_part, MAX(pk) AS max_part,
           MIN(sk) AS min_supp, MAX(sk) AS max_supp
    FROM hd GROUP BY d
    """,
    tags=("layout", "scan"),
)
def hilbert_curve_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering layout — ``zorder_layout``'s
    locality-stronger sibling and the curve behind Databricks liquid
    clustering: unlike Morton order, the Hilbert curve never jumps
    across the key space (consecutive d values are always grid
    neighbors), so contiguous file groups cover tighter rectangles
    and min/max skipping prunes strictly better on range predicates.
    The xy→d map is the classic reflect/transpose recursion unrolled
    to ``HILBERT_BITS`` levels of pure integer div/mod/CASE
    arithmetic — one expression text shared with the oracle, exact on
    both engines (no float, no xor — ``^`` is POWER in DuckDB). The
    output is each hilbert-bucket's row count and per-dimension
    min/max — the skipping statistics a writer would persist, and
    directly comparable with ``zorder_layout``'s buckets since both
    use {1 << HILBERT_BITS}×{1 << HILBERT_BITS} grids. At 100 TB: add
    dimensions by lifting the unroll to the n-D Hilbert recursion,
    widen bits to the target file count, and write with
    ``repartitionByRange(hbucket).sortWithinPartitions``."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_partkey") % (1 << HILBERT_BITS)).alias("hx"),
        (F.col("l_suppkey") % (1 << HILBERT_BITS)).alias("hy"),
    )
    cur = li.selectExpr(
        "hx AS x", "hy AS y", "0 AS d", "l_partkey AS pk", "l_suppkey AS sk"
    )
    for lvl in range(HILBERT_BITS - 1, -1, -1):
        s = 1 << lvl
        rx = f"((x DIV {s}) % 2)"
        ry = f"((y DIV {s}) % 2)"
        digit = (
            f"(CASE WHEN {rx} = 0 AND {ry} = 0 THEN 0"
            f"      WHEN {rx} = 0 AND {ry} = 1 THEN 1"
            f"      WHEN {rx} = 1 AND {ry} = 1 THEN 2"
            f"      ELSE 3 END)"
        )
        cur = cur.selectExpr(
            f"(CASE WHEN {ry} = 0 THEN"
            f" (CASE WHEN {rx} = 1 THEN {s} - 1 - (y % {s})"
            f"       ELSE y % {s} END)"
            f" ELSE x % {s} END) AS x",
            f"(CASE WHEN {ry} = 0 THEN"
            f" (CASE WHEN {rx} = 1 THEN {s} - 1 - (x % {s})"
            f"       ELSE x % {s} END)"
            f" ELSE y % {s} END) AS y",
            f"d + {s * s} * {digit} AS d",
            "pk",
            "sk",
        )
    return cur.groupBy(F.col("d").alias("hbucket")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("pk").alias("min_part"),
        F.max("pk").alias("max_part"),
        F.min("sk").alias("min_supp"),
        F.max("sk").alias("max_supp"),
    )


# ---------------------------------------------------------------------------
# autocorrelation function of the daily event series

#: maximum day lag (inclusive) for acf_daily_lags
ACF_MAX_LAG = 14


@query(
    "acf_daily_lags",
    oracle=f"""
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY day),
    bounds AS (SELECT MIN(day) AS mn, MAX(day) AS mx FROM d),
    spine AS (SELECT CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY))
                         AS DATE) AS day FROM bounds),
    daily AS (SELECT s.day, COALESCE(d.x, 0) AS x
              FROM spine s LEFT JOIN d USING (day)),
    tot AS (SELECT COUNT(*) AS n, SUM(x) AS s, SUM(x * x) AS q FROM daily),
    lags AS (SELECT unnest(range(1, {ACF_MAX_LAG + 1})) AS lag),
    pairs AS (
        SELECT l.lag, a.x AS xa, b.x AS xb
        FROM daily a CROSS JOIN lags l
        JOIN daily b ON b.day = a.day + CAST(l.lag AS INT)),
    sums AS (
        SELECT lag, COUNT(*) AS np,
               SUM(CAST(xa AS HUGEINT) * xb) AS c_l,
               SUM(xa) AS a_l, SUM(xb) AS b_l
        FROM pairs GROUP BY lag)
    SELECT CAST(lag AS INT) AS lag,
           CAST(np AS BIGINT) AS n_pairs,
           CAST(c_l AS BIGINT) AS cross_sum,
           CAST(a_l AS BIGINT) AS head_sum,
           CAST(b_l AS BIGINT) AS tail_sum,
           CASE WHEN CAST(n AS HUGEINT) * n * q - CAST(n AS HUGEINT) * s * s
                     <= 0 THEN 0e0
                ELSE CAST(CAST(n AS HUGEINT) * n * c_l
                          - CAST(n AS HUGEINT) * s * (a_l + b_l)
                          + CAST(np AS HUGEINT) * s * s AS DOUBLE)
                     / CAST(CAST(n AS HUGEINT) * n * q
                            - CAST(n AS HUGEINT) * s * s AS DOUBLE) END
               AS acf
    FROM sums CROSS JOIN tot
    ORDER BY lag
    """,
    tags=("event-time", "statistics"),
)
def acf_daily_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the TOTAL daily event series at lags
    1..{ACF_MAX_LAG} — the Box-Jenkins seasonality fingerprint (a
    weekly cycle shows as an ACF spike at lag 7) and the self-series
    companion of ``lagged_cross_correlation``, with the textbook ACF
    estimator rather than a windowed Pearson: deviations are taken
    from the FULL-series mean and normalized by the FULL-series sum of
    squares, so r_l is comparable across lags and bounded the way the
    Bartlett bands assume. Clearing the mean's 1/n gives
    r_l = (n²·C_l − n·S·(A_l+B_l) + (n−l)·S²) / (n²·Q − n·S²) — every
    moment an exact integer on the shared zero-filled day spine
    (missing days are real zeros, not silently skipped rows), squared
    terms in DECIMAL(38,0) ↔ HUGEINT, and ONE double division at the
    end (numerator legitimately negative for anti-correlated lags —
    it never meets integer division; the constant-series corner pins
    0 via the shared CASE).

    Plan: one scan collapses to |days| rows; the spine, lag join
    ({ACF_MAX_LAG}× replication of a bounded relation), and moment
    aggregates all run on day-scale data — constant work at 100 TB of
    events."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day")
    )
    d = ev.groupBy("day").agg(F.count(F.lit(1)).alias("x"))
    bounds = d.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    spine = bounds.select(
        F.explode(F.expr("sequence(mn, mx, interval 1 day)")).alias("day")
    )
    daily = spine.join(d, "day", "left").select(
        "day", F.coalesce("x", F.lit(0)).cast("bigint").alias("x")
    )
    tot = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("q"),
    )
    lags = spark.range(1, ACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = daily.crossJoin(F.broadcast(lags)).select(
        "lag", F.expr("date_add(day, lag)").alias("day"), F.col("x").alias("xa")
    )
    b = daily.select(F.col("day").alias("day"), F.col("x").alias("xb"))
    sums = (
        a.join(b, "day")
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("np"),
            F.sum(
                F.expr("CAST(xa AS DECIMAL(38,0)) * xb")
            ).alias("c_l"),
            F.sum("xa").alias("a_l"),
            F.sum("xb").alias("b_l"),
        )
    )
    return (
        sums.crossJoin(F.broadcast(tot))
        .selectExpr(
            "CAST(lag AS INT) AS lag",
            "CAST(np AS BIGINT) AS n_pairs",
            "CAST(c_l AS BIGINT) AS cross_sum",
            "CAST(a_l AS BIGINT) AS head_sum",
            "CAST(b_l AS BIGINT) AS tail_sum",
            "CASE WHEN CAST(n AS DECIMAL(38,0)) * n * q"
            "          - CAST(n AS DECIMAL(38,0)) * s * s <= 0 THEN 0e0"
            "     ELSE CAST(CAST(n AS DECIMAL(38,0)) * n * c_l"
            "               - CAST(n AS DECIMAL(38,0)) * s * (a_l + b_l)"
            "               + CAST(np AS DECIMAL(38,0)) * s * s AS DOUBLE)"
            "          / CAST(CAST(n AS DECIMAL(38,0)) * n * q"
            "                 - CAST(n AS DECIMAL(38,0)) * s * s AS DOUBLE)"
            " END AS acf",
        )
        .orderBy("lag")
    )


# ---------------------------------------------------------------------------
# Gorilla delta-of-delta timestamp encoding census

#: Gorilla (Facebook, VLDB'15) delta-of-delta bit buckets: control-bit
#: prefix lengths + payload widths per class
_DOD_BUCKETS_SQL = """
    CASE WHEN dod = 0 THEN 'a_zero'
         WHEN dod BETWEEN -63 AND 64 THEN 'b_7bit'
         WHEN dod BETWEEN -255 AND 256 THEN 'c_9bit'
         WHEN dod BETWEEN -2047 AND 2048 THEN 'd_12bit'
         ELSE 'e_32bit' END
"""
_DOD_BITS_SQL = """
    CASE WHEN dod = 0 THEN 1
         WHEN dod BETWEEN -63 AND 64 THEN 9
         WHEN dod BETWEEN -255 AND 256 THEN 12
         WHEN dod BETWEEN -2047 AND 2048 THEN 16
         ELSE 36 END
"""


@query(
    "delta_of_delta_encoding_census",
    oracle=f"""
    WITH ordered AS (
        -- floor to whole SECONDS (epoch_us // 1e6): Gorilla's buckets
        -- assume second-resolution stamps, and DuckDB's epoch() keeps
        -- the sub-second fraction the Spark side truncates
        SELECT user_id, epoch_us(ts) // 1000000 AS t,
               LAG(epoch_us(ts) // 1000000) OVER w AS t1,
               LAG(epoch_us(ts) // 1000000, 2) OVER w AS t2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    dods AS (
        SELECT (t - t1) - (t1 - t2) AS dod
        FROM ordered WHERE t2 IS NOT NULL),
    census AS (
        SELECT {_DOD_BUCKETS_SQL} AS bucket,
               COUNT(*) AS n,
               SUM({_DOD_BITS_SQL}) AS bits
        FROM dods GROUP BY 1)
    SELECT bucket, CAST(n AS BIGINT) AS n_deltas,
           CAST(bits AS BIGINT) AS bits_total,
           CAST(1000 * bits // (64 * n) AS BIGINT)
               AS vs_raw64_permille
    FROM census ORDER BY bucket
    """,
    tags=("event-time", "compression", "layout"),
)
def delta_of_delta_encoding_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gorilla delta-of-delta timestamp compressibility census
    (Pelkonen et al., VLDB'15 — the encoding behind every modern TSDB,
    including the hypertable stores this engine's rollup family
    models): per user, second-order differences of the event-time
    series fall into the spec's control buckets (0 → 1 bit, ±64 → 7,
    ±256 → 9, ±2048 → 12, else 32, plus control prefixes), and the
    census of those buckets IS the storage estimate a TSDB capacity
    plan runs before choosing chunk intervals. Exact integers
    throughout: epochs are UTC-pinned longs on both engines, the
    (ts, event_id) total order makes every lag deterministic under
    ties, and the per-bucket bits-vs-raw64 ratio is one truncating
    division. Plan: ONE window over the user partition (user_id is
    corpus-cardinality — thousands of parallel partitions, the
    sessionize shape, never an enum window) followed by a 5-row
    aggregate."""
    # TIMESTAMP_NTZ has no direct long cast in Spark and a tz-sensitive
    # one via TIMESTAMP — build the epoch from tz-free FIELDS instead,
    # which is exactly what DuckDB's epoch() does on a naive timestamp
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.expr(
            "unix_date(CAST(ts AS DATE)) * 86400L"
            " + hour(ts) * 3600L + minute(ts) * 60L + second(ts)"
        ).alias("t"),
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    dods = (
        ev.select(
            "t",
            F.lag("t", 1).over(w).alias("t1"),
            F.lag("t", 2).over(w).alias("t2"),
        )
        .where(F.col("t2").isNotNull())
        .select(
            ((F.col("t") - F.col("t1")) - (F.col("t1") - F.col("t2"))).alias(
                "dod"
            )
        )
    )
    census = dods.groupBy(F.expr(_DOD_BUCKETS_SQL).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr(_DOD_BITS_SQL)).alias("bits"),
    )
    return census.selectExpr(
        "bucket",
        "CAST(n AS BIGINT) AS n_deltas",
        "CAST(bits AS BIGINT) AS bits_total",
        "CAST(1000 * bits div (64 * n) AS BIGINT) AS vs_raw64_permille",
    ).orderBy("bucket")


# ---------------------------------------------------------------------------
# Kaplan-Meier hazard table (user-lifetime survival analysis)

#: censoring horizon: a user whose LAST event is within this many days
#: of the corpus end may still be alive — censored, not churned
KM_CENSOR_DAYS = 28


@query(
    "kaplan_meier_hazard",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id,
               MIN(CAST(ts AS DATE)) AS first_day,
               MAX(CAST(ts AS DATE)) AS last_day
        FROM events GROUP BY user_id),
    bounds AS (SELECT MAX(last_day) AS corpus_end FROM per_user),
    lives AS (
        SELECT date_diff('day', first_day, last_day) AS t,
               CASE WHEN date_diff('day', last_day,
                                   (SELECT corpus_end FROM bounds))
                         < {KM_CENSOR_DAYS}
                    THEN 1 ELSE 0 END AS censored
        FROM per_user),
    per_t AS (
        SELECT t, COUNT_IF(censored = 0) AS d, COUNT_IF(censored = 1) AS c
        FROM lives GROUP BY t),
    risk AS (
        SELECT t, d, c,
               SUM(d + c) OVER (ORDER BY t DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS n_at_risk
        FROM per_t)
    SELECT CAST(t AS BIGINT) AS lifetime_days,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           CAST(d AS BIGINT) AS n_churned,
           CAST(c AS BIGINT) AS n_censored,
           CAST(1000 * d // n_at_risk AS BIGINT) AS hazard_permille
    FROM risk ORDER BY lifetime_days
    """,
    tags=("event-time", "statistics", "lifecycle"),
)
def kaplan_meier_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier hazard table over user lifetimes — survival
    analysis with honest RIGHT-CENSORING, the lifecycle tool
    ``retention_cohort``'s calendar matrix cannot replace: a user
    whose last event sits within {KM_CENSOR_DAYS} days of the corpus
    end has not been observed to churn (they may act tomorrow), so
    they leave the risk set at their observed lifetime WITHOUT
    counting as a death — naive churn curves silently overestimate
    hazard near the observation boundary and this operator does not.
    Per lifetime offset t: the at-risk count (suffix sum over the
    bounded lifetime table — everyone who survived at least t),
    deaths, censored exits, and the discrete hazard d/n in exact
    permille; the Kaplan-Meier survival curve is the running product
    of (1 − hazard) — left to the reader precisely because a float
    product is order-fragile, while this table is the exact input
    every survival library consumes.

    Plan: one per-user aggregate (map-side combined), a scalar corpus
    -end broadcast, a |lifetimes|-row aggregate (bounded by the
    observation span in days), and the suffix-sum window over those
    bounded rows (aggregate-below exemption). Corpus-scale work is
    the single events scan."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("day")
    )
    per_user = ev.groupBy("user_id").agg(
        F.min("day").alias("first_day"), F.max("day").alias("last_day")
    )
    bounds = per_user.agg(F.max("last_day").alias("corpus_end"))
    lives = per_user.crossJoin(F.broadcast(bounds)).select(
        F.datediff("last_day", "first_day").alias("t"),
        F.when(
            F.datediff("corpus_end", "last_day") < KM_CENSOR_DAYS, 1
        )
        .otherwise(0)
        .alias("censored"),
    )
    per_t = lives.groupBy("t").agg(
        F.count_if(F.col("censored") == 0).alias("d"),
        F.count_if(F.col("censored") == 1).alias("c"),
    )
    sw = W.orderBy(F.desc("t")).rowsBetween(W.unboundedPreceding, 0)
    risk = per_t.select(
        "t",
        "d",
        "c",
        F.sum(F.col("d") + F.col("c")).over(sw).alias("n_at_risk"),
    )
    return risk.selectExpr(
        "CAST(t AS BIGINT) AS lifetime_days",
        "CAST(n_at_risk AS BIGINT) AS n_at_risk",
        "CAST(d AS BIGINT) AS n_churned",
        "CAST(c AS BIGINT) AS n_censored",
        "CAST(1000 * d div n_at_risk AS BIGINT) AS hazard_permille",
    ).orderBy("lifetime_days")


# ---------------------------------------------------------------------------
# SAX symbolization of the daily event series

#: PAA window width (days) and the 4-symbol alphabet breakpoints: the
#: standard-normal quartiles ±0.6744897501960817 (Φ⁻¹(¾), correctly
#: rounded by scipy once, frozen here as shared literals — the NDCG
#: discount-constant pattern: no engine ever evaluates Φ⁻¹)
SAX_WINDOW_DAYS = 7
SAX_BP = "0.6744897501960817e0"


@query(
    "sax_symbolic_daily",
    oracle=f"""
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY day),
    bounds AS (SELECT MIN(day) AS mn, MAX(day) AS mx FROM d),
    spine AS (SELECT CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY))
                         AS DATE) AS day FROM bounds),
    daily AS (
        SELECT s.day, COALESCE(d.x, 0) AS x,
               date_diff('day', (SELECT mn FROM bounds), s.day)
                   // {SAX_WINDOW_DAYS} AS w
        FROM spine s LEFT JOIN d USING (day)),
    tot AS (SELECT COUNT(*) AS n, SUM(x) AS s, SUM(x * x) AS q FROM daily),
    paa AS (
        SELECT w, COUNT(*) AS n_days, SUM(x) AS sum_x FROM daily GROUP BY w),
    z AS (
        SELECT w, n_days, sum_x, n, s, q,
               CASE WHEN CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s
                         <= 0 THEN 0e0
                    ELSE (CAST(sum_x AS DOUBLE) / n_days
                          - CAST(s AS DOUBLE) / n)
                         / sqrt((CAST(q AS DOUBLE)
                                 - CAST(s AS DOUBLE) * s / n)
                                / (n - 1e0)) END AS zval
        FROM paa CROSS JOIN tot)
    SELECT CAST(w AS BIGINT) AS window_id,
           CAST(n_days AS BIGINT) AS n_days,
           CAST(sum_x AS BIGINT) AS sum_events,
           CASE WHEN zval < -{SAX_BP} THEN 'a'
                WHEN zval < 0e0 THEN 'b'
                WHEN zval < {SAX_BP} THEN 'c'
                ELSE 'd' END AS symbol
    FROM z ORDER BY window_id
    """,
    tags=("event-time", "statistics", "mining"),
)
def sax_symbolic_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX — Symbolic Aggregate approXimation (Lin/Keogh et al. 2003)
    of the daily event series: PAA means over {SAX_WINDOW_DAYS}-day
    windows, z-normalized against the whole series, discretized into
    a 4-symbol alphabet at the standard-normal quartile breakpoints.
    The string of symbols is what time-series mining indexes (motif
    discovery, anomaly grammars, DTW lower bounds) — and the same
    lower-bounding property SAX papers prove makes it a data-skipping
    key for series at 100 TB. Determinism: the breakpoints are
    Φ⁻¹(¾) frozen as shared literals (the NDCG discount-constant
    pattern — neither engine evaluates an inverse CDF); the z value
    is ONE shared double chain over exact integer moments (sample
    std, sqrt-only) on the zero-filled day spine, so the symbol CASE
    compares bit-identical doubles to identical literals on both
    engines. The zero-variance corner pins z = 0 ('c'). Plan: the
    corpus collapses to |days| rows; PAA, moments, and symbols all
    run on that bounded relation — constant work at any event
    volume."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day")
    )
    d = ev.groupBy("day").agg(F.count(F.lit(1)).alias("x"))
    bounds = d.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    spine = bounds.select(
        "mn", F.explode(F.expr("sequence(mn, mx, interval 1 day)")).alias("day")
    )
    daily = spine.join(d, "day", "left").select(
        F.coalesce("x", F.lit(0)).cast("bigint").alias("x"),
        F.expr(f"datediff(day, mn) div {SAX_WINDOW_DAYS}").alias("w"),
    )
    tot = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("q"),
    )
    paa = daily.groupBy("w").agg(
        F.count(F.lit(1)).alias("n_days"), F.sum("x").alias("sum_x")
    )
    z = paa.crossJoin(F.broadcast(tot)).selectExpr(
        "w",
        "n_days",
        "sum_x",
        "CASE WHEN CAST(n AS DECIMAL(38,0)) * q - CAST(s AS DECIMAL(38,0)) * s"
        "          <= 0 THEN 0e0"
        "     ELSE (CAST(sum_x AS DOUBLE) / n_days"
        "           - CAST(s AS DOUBLE) / n)"
        "          / sqrt((CAST(q AS DOUBLE)"
        "                  - CAST(s AS DOUBLE) * s / n)"
        "                 / (n - 1e0)) END AS zval",
    )
    return z.selectExpr(
        "CAST(w AS BIGINT) AS window_id",
        "CAST(n_days AS BIGINT) AS n_days",
        "CAST(sum_x AS BIGINT) AS sum_events",
        f"CASE WHEN zval < -{SAX_BP} THEN 'a'"
        f"     WHEN zval < 0e0 THEN 'b'"
        f"     WHEN zval < {SAX_BP} THEN 'c'"
        "     ELSE 'd' END AS symbol",
    ).orderBy("window_id")
