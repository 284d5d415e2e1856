"""Event-time and time-series operators: the as-of join family
(backward, forward, nearest, bounded), tumbling/sliding/session
windows, interval consolidation, funnels, retention and journeys,
gap filling, resampling and rollups, smoothing and autocorrelation,
anomaly and arrival-order screens, and watermark/lateness profiles.

These are the batch-verifiable faces of the streaming semantics in
SURVEY.md §2-C (`stream_*` rows run the same logic under Structured
Streaming in ``watermill_kinesis_spark/streaming``). ``events.ts`` plays
the reference's arrival timestamp (marshaller.go:40), upgraded to a real
timestamp column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F, types as T

from watermill_kinesis_spark.functions.distscan import grouped_scan, range_slices
from watermill_kinesis_spark.functions.exact import dsum, lcents, lsum, sql_dsum
from watermill_kinesis_spark.functions.localrel import local_relation
from watermill_kinesis_spark.registry import query
from watermill_kinesis_spark.sources.tables import load_table


@query(
    "join_asof_events",
    oracle="""
    WITH ranked AS (
        SELECT e.event_id, e.user_id, e.ts,
               o.o_orderkey, o.o_orderdate, o.o_totalprice,
               ROW_NUMBER() OVER (
                   PARTITION BY e.event_id
                   ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        FROM events e
        LEFT JOIN orders o
          ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    )
    SELECT event_id, user_id,
           o_orderkey AS asof_orderkey,
           o_orderdate AS asof_orderdate,
           o_totalprice AS asof_totalprice
    FROM ranked WHERE rn = 1
    """,
    tags=("join", "asof", "event-time"),
)
def join_asof_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each event, the user's most recent order at or
    before the event time (ties broken by max order key). DuckDB spells
    this ASOF JOIN; Spark lacks a native one.

    Implementation is the scale-correct union-scan pattern, not a range
    join: tag both sides, sort within user by (time, order-before-event),
    and carry the last seen order forward with
    ``last(..., ignorenulls)``. One shuffle on user_id, zero row
    explosion — an interval join would blow up as |orders per user|
    grows, this stays O(n log n) per key."""
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
    # Orders sort before events at equal t (is_order DESC) so a same-
    # instant order is visible to the event; among equal-t orders the
    # last row wins ⇒ ascending o_orderkey picks the max key.
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
    return (
        ev.unionByName(od)
        .withColumn("asof", carried)
        .where(F.col("is_order") == 0)
        .select(
            "event_id",
            F.col("uid").alias("user_id"),
            F.col("asof.o_orderkey").alias("asof_orderkey"),
            F.col("asof.o_orderdate").alias("asof_orderdate"),
            F.col("asof.o_totalprice").alias("asof_totalprice"),
        )
    )


@query(
    "stream_tumbling_window",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n,
           {sql_dsum('value')} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("window", "event-time", "streaming-equivalent"),
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling event-time window (batch face of the streaming
    aggregation; identical code runs under readStream + withWatermark)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@query(
    "stream_sliding_window",
    oracle=f"""
    SELECT time_bucket(INTERVAL '15 minutes', ts) - k.k * INTERVAL '15 minutes' AS window_start,
           COUNT(*) AS n,
           {sql_dsum('value')} AS sum_value
    FROM events
    CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) k
    GROUP BY 1
    """,
    tags=("window", "event-time", "streaming-equivalent"),
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 15 minutes: each event lands in 4
    overlapping windows. Spark expands this internally exactly like the
    oracle's explicit k∈0..3 replication."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value"))
        .select(F.col("window.start").alias("window_start"), "n", "sum_value")
    )


@query(
    "stream_session_window",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
        SELECT user_id, ts, value,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, sid
    """,
    tags=("window", "event-time", "streaming-equivalent"),
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 30-minute inactivity gap
    (``session_window`` in batch; the same expression works on a stream
    with a watermark). Session end = last event + gap, Spark's
    convention; the oracle reproduces it with lag/cumsum
    sessionization."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# interval overlap join (binned range-join strategy)

#: bin width for the overlap join's band replication. Interval spans
#: are ≤ 15 days by construction, so every interval covers at most two
#: 16-day bins — replication factor ≤ 2, bounded by design.
OVERLAP_BIN_DAYS = 16
#: calendar origin for integer day/bin arithmetic
OVERLAP_EPOCH = "1992-01-01"


@query(
    "interval_overlap_join",
    oracle=f"""
    WITH iv AS (
        SELECT l_suppkey,
               l_orderkey * 10 + l_linenumber AS item_key,
               datediff('day', DATE '{OVERLAP_EPOCH}', l_shipdate) AS s,
               datediff('day', DATE '{OVERLAP_EPOCH}', l_shipdate)
                   + (CAST(l_quantity AS INT) % 14) + 1 AS e
        FROM lineitem)
    SELECT a.l_suppkey AS suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_overlap_pairs
    FROM iv a JOIN iv b
      ON a.l_suppkey = b.l_suppkey
     AND a.s <= b.e AND b.s <= a.e
     AND a.item_key < b.item_key
    GROUP BY suppkey
    """,
    tags=("join", "range", "event-time"),
)
def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join: per supplier, how many pairs of its
    shipments had overlapping in-transit windows ([shipdate, shipdate +
    quantity-derived span]) — the concurrency profile behind capacity
    planning, and the general *overlap join* shape (validity intervals,
    sessions × incidents, reservations × outages) that naive SQL
    evaluates as a quadratic theta-join.

    Scale design — **band replication + overlap-start ownership**:
    each interval explodes to the 16-day (OVERLAP_BIN_DAYS) bins it
    touches (≤2 by construction, so replication is bounded), candidate
    pairs form per (suppkey, bin) with an *equi*-join Catalyst can
    hash-partition, and each true pair is counted exactly once because
    only the bin containing max(a.start, b.start) — the overlap start —
    is allowed to emit it. No distinct, no second dedup shuffle, no
    quadratic blowup beyond each bin's local density. DuckDB evaluates
    the reference theta-join; results must match exactly."""
    from watermill_kinesis_spark.sources.tables import adaptive_partitions

    li = load_table(spark, sf_dir, "lineitem")
    epoch = F.to_date(F.lit(OVERLAP_EPOCH))
    iv = li.select(
        "l_suppkey",
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("item_key"),
        F.datediff(F.col("l_shipdate"), epoch).alias("s"),
        (
            F.datediff(F.col("l_shipdate"), epoch)
            + F.col("l_quantity").cast("int") % 14
            + 1
        ).alias("e"),
    ).repartition(
        # fan the pair stage out of the input splits (optimization
        # round 14, guide §2.5): the per-bin pair emission is work AQE
        # and the scan splitter cannot see — the join stage ran as 3
        # tasks (one per lineitem split) with ~0.7 s of CPU each
        adaptive_partitions(spark, sf_dir, "lineitem", expand=2),
        "l_suppkey",
    )
    binned = iv.withColumn(
        "bin",
        F.explode(
            F.sequence(
                (F.col("s") / OVERLAP_BIN_DAYS).cast("int"),
                (F.col("e") / OVERLAP_BIN_DAYS).cast("int"),
            )
        ),
    )
    a, b = binned.alias("a"), binned.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_suppkey") == F.col("b.l_suppkey"))
        & (F.col("a.bin") == F.col("b.bin"))
        & (F.col("a.item_key") < F.col("b.item_key"))
        & (F.col("a.s") <= F.col("b.e"))
        & (F.col("b.s") <= F.col("a.e"))
        # overlap-start ownership: only the bin where the overlap
        # begins emits the pair (pairs sharing 2 bins count once)
        & (
            F.col("a.bin")
            == (
                F.greatest(F.col("a.s"), F.col("b.s")) / OVERLAP_BIN_DAYS
            ).cast("int")
        ),
    )
    return pairs.groupBy(F.col("a.l_suppkey").alias("suppkey")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_overlap_pairs")
    )


@query(
    "session_window_dynamic_gap",
    oracle="""
    WITH iv AS (
        SELECT user_id, ts AS s,
               ts + CASE WHEN event_type = 'click'
                         THEN INTERVAL 10 MINUTE
                         ELSE INTERVAL 30 MINUTE END AS e
        FROM events WHERE user_id < 50),
    ord AS (
        SELECT user_id, s, e,
               CASE WHEN s > MAX(e) OVER (
                        PARTITION BY user_id ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    THEN 1 ELSE 0 END AS brk
        FROM iv),
    isl AS (
        SELECT user_id, s, e,
               SUM(brk) OVER (PARTITION BY user_id ORDER BY s
                              ROWS UNBOUNDED PRECEDING) AS grp
        FROM ord)
    SELECT user_id,
           MIN(s) AS session_start,
           MAX(e) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM isl GROUP BY user_id, grp
    """,
    tags=("event-time", "session", "spark4"),
)
def session_window_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows whose inactivity gap is a PER-EVENT expression
    (Spark's dynamic-gap ``session_window``): a click keeps the
    session alive 10 minutes, anything else 30 — the real-world shape
    where engagement signals extend sessions differently. Semantics
    are interval-merge: each event spans [ts, ts+gap(event)) and
    overlapping spans coalesce; the oracle reproduces exactly that
    with a gaps-and-islands running MAX(end). Exact microsecond
    boundaries on both engines — the hash compare covers start, end,
    and counts."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 50)
    gap = F.when(F.col("event_type") == "click", F.lit("10 minutes")).otherwise(
        F.lit("30 minutes")
    )
    return (
        ev.groupBy("user_id", F.session_window("ts", gap))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "sliding_distinct_users",
    oracle="""
    SELECT time_bucket(INTERVAL '15 minutes', ts) - k.k * INTERVAL '15 minutes'
               AS window_start,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) k
    GROUP BY 1
    """,
    tags=("window", "event-time", "streaming-equivalent"),
)
def sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-entity sliding windows — the site-traffic / active-user
    dashboard shape: unique users per 1-hour window sliding every 15
    minutes. Each event replicates into its 4 covering windows (the
    sliding-window identity the oracle spells with the k-offset cross
    join) and the per-window COUNT DISTINCT is a two-phase exact
    distinct (partial per partition, merge on the window key) — at
    100 TB this swaps to approx_count_distinct with
    ``hll_accuracy_audit`` certifying the error envelope."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("w.start").alias("window_start"), "n_users", "n_events"
        )
    )


# ---------------------------------------------------------------------------
# incremental rollup (hypertable-style continuous aggregate)


@query(
    "rollup_incremental",
    oracle=f"""
    SELECT date_trunc('day', ts) AS day,
           COUNT(*) AS n_events,
           {sql_dsum('value')} AS sum_value,
           COUNT(DISTINCT user_id) AS n_users_max_hourly
    FROM events
    GROUP BY day
    """,
    tags=("agg", "rollup", "event-time"),
)
def rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style incremental rollup: raw events aggregate to
    HOURLY partials first, and the DAILY level is computed purely from
    those partials (sums of sums, never re-touching raw rows). At
    100 TB this is the continuous-aggregate pattern — the hourly layer
    is what you'd persist, and every coarser rollup (day/week/month) is
    a cheap re-aggregation of |hours|-sized input instead of a rescan.
    Counts and exact-cent sums re-aggregate losslessly; COUNT DISTINCT
    does NOT decompose over partials, so the daily distinct is computed
    against the hourly level's distinct sets (here: exact via the
    two-level groupBy carrying user_id through the hourly key — the
    rows between the two aggregations are |hours|×|users|, already tiny
    relative to raw; the sketch-mergeable alternative is
    approx_count_distinct)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), F.col("user_id")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(lcents("value")).alias("sum_cents"),
    )
    return (
        hourly.groupBy(F.date_trunc("day", "hour").alias("day"))
        .agg(
            F.sum("n").alias("n_events"),
            lsum(F.col("sum_cents"), 2).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users_max_hourly"),
        )
    )


# ---------------------------------------------------------------------------
# event-cadence regularity (bot screening)

#: minimum gap count for a cadence verdict — below this the variance
#: of inter-event gaps is noise, not a signature
CADENCE_MIN_GAPS = 11


@query(
    "user_cadence_regularity",
    oracle=f"""
    WITH e AS (
        SELECT user_id, epoch_us(ts) // 1000000 AS s, event_id
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
    g AS (
        SELECT user_id,
               s - LAG(s) OVER (PARTITION BY user_id ORDER BY s, event_id)
                   AS gap
        FROM e),
    a AS (
        SELECT user_id, COUNT(gap) AS n, SUM(gap) AS ssum,
               SUM(gap * gap) AS q
        FROM g WHERE gap IS NOT NULL GROUP BY user_id
        HAVING COUNT(gap) >= {CADENCE_MIN_GAPS})
    SELECT user_id, CAST(n + 1 AS BIGINT) AS n_events,
           CAST(ssum // n AS BIGINT) AS mean_gap_s,
           CAST(CASE WHEN ssum = 0 THEN 0
                ELSE 1000 * (n * q - ssum * ssum) // (ssum * ssum)
                END AS BIGINT) AS cv2_permille
    FROM a
    """,
    tags=("events", "quality", "statistics"),
)
def user_cadence_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event cadence profile per user — the classic bot screen:
    machine traffic fires on a clock (squared coefficient of variation
    of the gaps near 0), humans are bursty (cv² ≫ 1). Gaps are whole
    seconds from the shared epoch arithmetic (Spark unix_micros ↔
    DuckDB epoch_us, both floor-divided by 10⁶ — nonnegative, so
    truncation agrees), ordered by the total (ts, event_id) key so
    ties can't reorder LAG between engines. cv²·1000 =
    1000·(n·Σg²−(Σg)²)/(Σg)² is one cross-multiplied integer quotient
    — numerator ≥ 0 by Cauchy-Schwarz, zero-total-gap degenerates to
    0 by the same CASE on both engines. int64 envelope: n·Σg² ≲ 9·10¹⁸
    means per-user gap-seconds² totals to ~10¹⁶ — a user would need
    years-long gaps at hundreds of events to overflow; the replica's
    key-shifted users keep per-user event counts fixed, so the bound
    is scale-free there. Plan: one user-partitioned LAG window (corpus
    -cardinality key) and one per-user aggregate; output is bounded by
    the active-user count."""
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(
            "user_id",
            F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 1000000").alias(
                "s"
            ),
            "event_id",
        )
    )
    lagw = W.partitionBy("user_id").orderBy("s", "event_id")
    g = ev.select(
        "user_id", (F.col("s") - F.lag("s").over(lagw)).alias("gap")
    ).where(F.col("gap").isNotNull())
    a = (
        g.groupBy("user_id")
        .agg(
            F.count("gap").alias("n"),
            F.sum("gap").alias("ssum"),
            F.sum(F.col("gap") * F.col("gap")).alias("q"),
        )
        .where(F.col("n") >= CADENCE_MIN_GAPS)
    )
    return a.selectExpr(
        "user_id",
        "CAST(n + 1 AS BIGINT) AS n_events",
        "CAST(ssum div n AS BIGINT) AS mean_gap_s",
        "CAST(CASE WHEN ssum = 0 THEN 0"
        " ELSE (1000 * (n * q - ssum * ssum)) div (ssum * ssum)"
        " END AS BIGINT) AS cv2_permille",
    )


# ---------------------------------------------------------------------------
# gap-filled time-series resample


@query(
    "timeseries_gapfill",
    oracle=f"""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS hour, event_type,
               COUNT(*) AS n, {sql_dsum('value')} AS s
        FROM events GROUP BY 1, 2),
    bounds AS (
        SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
        FROM events),
    grid AS (
        SELECT g.hour, t.event_type
        FROM (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
              FROM bounds) g
        CROSS JOIN (SELECT DISTINCT event_type FROM events) t)
    SELECT grid.hour, grid.event_type,
           COALESCE(hourly.n, 0) AS n_events,
           COALESCE(hourly.s, 0.0) AS sum_value
    FROM grid LEFT JOIN hourly
      ON grid.hour = hourly.hour AND grid.event_type = hourly.event_type
    """,
    tags=("event-time", "rollup", "gapfill"),
)
def timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly resample — every (hour, event_type) cell of the
    observed time range is present, zero-filled where no events landed
    (the hypertable ``time_bucket_gapfill`` shape; downstream charting
    and forecasting ops need dense series). Scale posture: the raw scan
    aggregates straight down to |hours|x|types| partials; the dense grid
    is generated, not scanned — `sequence` on one bounds row times a
    distinct-types list — so the left join is partials-sized, never
    data-sized, and at 100 TB the only full-data pass is the first
    aggregate."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"), F.sum(lcents("value")).alias("s_cents"))
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("hour")
    )
    types = ev.select("event_type").distinct()
    grid = hours.crossJoin(F.broadcast(types))
    return (
        grid.join(F.broadcast(hourly), ["hour", "event_type"], "left")
        .select(
            "hour",
            "event_type",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_events"),
            F.coalesce(
                F.col("s_cents").cast("double") / F.lit(100.0), F.lit(0.0)
            ).alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# z-score anomaly detection

#: |z| threshold for flagging. Exactness bound: value <= ~1e4 so cents^2
#: <= ~1e12; the per-group sum of squares stays below 2^53 (exact as
#: double) up to ~1e3 rows/group at sf0.01 ... ~8e3x more at full scale;
#: beyond that switch s2 to decimal(38,0) — same plan shape.
Z_THRESHOLD = 3.0


@query(
    "anomaly_zscore",
    oracle=f"""
    WITH stats AS (
        SELECT event_type,
               COUNT(*) AS n,
               SUM(CAST(ROUND(value * 100) AS BIGINT)) AS s1,
               SUM(CAST(ROUND(value * 100) AS BIGINT)
                   * CAST(ROUND(value * 100) AS BIGINT)) AS s2
        FROM events GROUP BY event_type)
    SELECT e.event_id, e.event_type, e.value
    FROM events e JOIN stats s ON e.event_type = s.event_type
    WHERE ABS(
        (CAST(ROUND(e.value * 100) AS BIGINT) - CAST(s.s1 AS DOUBLE) / s.n)
        / SQRT(CAST(s.s2 AS DOUBLE) / s.n
               - (CAST(s.s1 AS DOUBLE) / s.n) * (CAST(s.s1 AS DOUBLE) / s.n))
    ) > {Z_THRESHOLD}
    """,
    tags=("agg", "anomaly", "event-time"),
)
def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population z-score outlier flagging per event_type: events whose
    value sits more than 3 sigma from their group mean. Moments come
    from exact long fixed-point sums (count, sum-cents, sum-cents^2 —
    one map-side-combined pass), so mean/stddev are bit-identical
    across engines and partition orders; the z expression itself is
    written operand-for-operand the same here and in the oracle. The
    tiny stats table broadcasts back onto the fact scan — the 100 TB
    plan is scan + partial agg + broadcast-join filter, no fact
    shuffle. The 3-sigma comparison is safely away from any 1-ulp
    boundary for real data."""
    ev = load_table(spark, sf_dir, "events")
    cents = lcents("value")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("s1"),
        F.sum(cents * cents).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = F.col("s2").cast("double") / F.col("n") - mean * mean
    z = (cents - mean) / F.sqrt(var)
    return (
        ev.join(F.broadcast(stats), "event_type")
        .where(F.abs(z) > Z_THRESHOLD)
        .select("event_id", "event_type", "value")
    )


# ---------------------------------------------------------------------------
# overlapping-interval consolidation (gaps-and-islands)

ISLAND_GAP_MIN = 5


@query(
    "interval_consolidate",
    oracle=f"""
    WITH iv AS (
        SELECT user_id, event_id, ts AS s, ts + INTERVAL {ISLAND_GAP_MIN} MINUTE AS e
        FROM events),
    marked AS (
        SELECT user_id, s, e,
               CASE WHEN s > MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    OR MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                    THEN 1 ELSE 0 END AS new_island
        FROM iv),
    grouped AS (
        SELECT user_id, s, e,
               SUM(new_island) OVER (PARTITION BY user_id ORDER BY s
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM marked)
    SELECT user_id, MIN(s) AS island_start, MAX(e) AS island_end,
           COUNT(*) AS n_events
    FROM grouped GROUP BY user_id, island
    """,
    tags=("event-time", "window", "islands"),
)
def interval_consolidate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each event spans [ts, ts+5min); overlapping
    spans per user consolidate into maximal islands (the canonical
    interval-merge — uptime stitching, session coverage, availability
    windows). One shuffle on user_id serves both window passes and the
    final aggregate (same partitioning, Catalyst reuses the exchange);
    the running-max-of-ends trick is O(n log n) per key vs the O(n²)
    naive self-join. The oracle runs the identical window program."""
    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        "event_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr(f"interval {ISLAND_GAP_MIN} minutes")).alias("e"),
    )
    wo = W.partitionBy("user_id").orderBy("s", "event_id")
    prev_max_e = F.max("e").over(wo.rowsBetween(W.unboundedPreceding, -1))
    marked = iv.withColumn(
        "new_island",
        F.when(prev_max_e.isNull() | (F.col("s") > prev_max_e), 1).otherwise(0),
    )
    ws = W.partitionBy("user_id").orderBy("s").rowsBetween(W.unboundedPreceding, 0)
    grouped = marked.withColumn("island", F.sum("new_island").over(ws))
    return (
        grouped.groupBy("user_id", "island")
        .agg(
            F.min("s").alias("island_start"),
            F.max("e").alias("island_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .drop("island")
    )


# ---------------------------------------------------------------------------
# strict ordered funnel (view → click → purchase)


@query(
    "funnel_analysis",
    oracle="""
    WITH a AS (
        SELECT user_id, MIN(ts) AS ta FROM events
        WHERE event_type = 'view' GROUP BY user_id),
    b AS (
        SELECT e.user_id, MIN(e.ts) AS tb FROM events e
        JOIN a ON e.user_id = a.user_id
        WHERE e.event_type = 'click' AND e.ts > a.ta GROUP BY e.user_id),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS tc FROM events e
        JOIN b ON e.user_id = b.user_id
        WHERE e.event_type = 'purchase' AND e.ts > b.tb GROUP BY e.user_id)
    SELECT 1 AS stage, 'view' AS event_type, (SELECT COUNT(*) FROM a) AS n_users
    UNION ALL
    SELECT 2, 'click', (SELECT COUNT(*) FROM b)
    UNION ALL
    SELECT 3, 'purchase', (SELECT COUNT(*) FROM c)
    """,
    tags=("event-time", "funnel", "agg"),
)
def funnel_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict ordered funnel: users who viewed, then clicked AFTER
    their first view, then purchased AFTER that first qualifying click
    (product-analytics sequence matching; the strict form — min-after-
    previous-stage — not the weak any-order overlap). Each stage is a
    filtered partial aggregate joined to the previous stage's per-user
    timestamps on user_id; stage tables only shrink, so at scale each
    pass is a fact scan plus an ever-smaller join, and the three scans
    of one table share the cached/pruned source."""
    ev = load_table(spark, sf_dir, "events")
    a = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("ta"))
    )
    b = (
        ev.where(F.col("event_type") == "click")
        .join(a, "user_id")
        .where(F.col("ts") > F.col("ta"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tb"))
    )
    c = (
        ev.where(F.col("event_type") == "purchase")
        .join(b, "user_id")
        .where(F.col("ts") > F.col("tb"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tc"))
    )

    def stage(n: int, label: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(n).alias("stage"),
            F.lit(label).alias("event_type"),
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
        )

    return stage(1, "view", a).unionAll(stage(2, "click", b)).unionAll(
        stage(3, "purchase", c)
    )


# ---------------------------------------------------------------------------
# retention cohorts


@query(
    "retention_cohort",
    oracle="""
    WITH firsts AS (
        SELECT user_id, date_trunc('day', MIN(ts)) AS cohort_day
        FROM events GROUP BY user_id),
    activity AS (
        SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events)
    SELECT f.cohort_day, datediff('day', f.cohort_day, a.day) AS day_offset,
           COUNT(*) AS n_users
    FROM firsts f JOIN activity a ON f.user_id = a.user_id
    GROUP BY f.cohort_day, day_offset
    """,
    tags=("event-time", "cohort", "agg"),
)
def retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention matrix: users bucketed by first-seen day (cohort),
    counted on each later active day as an offset — the
    cohort-retention triangle every growth dashboard renders. Both
    inputs aggregate out of the same user_id-partitioned scan (first
    touch and distinct active days), the join is |users|-sized, and
    the result is |days|² rows — driver-safe at any corpus size."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    activity = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    return (
        firsts.join(activity, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# ---------------------------------------------------------------------------
# arrival-lateness profile (watermark tuning input)

#: deterministic synthetic arrival delay (seconds): hash of event_id
#: bounded to one hour — stands in for (arrival_ts − event_ts), which
#: the test schema does not carry
_LATENESS_EXPR = "(event_id * 2654435761) % 3600"


@query(
    "event_lateness_profile",
    oracle=f"""
    WITH l AS (
        SELECT event_type, CAST({_LATENESS_EXPR} AS BIGINT) AS late_s
        FROM events)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(quantile_cont(late_s, 0.5), 6) AS p50_lateness_s,
           ROUND(quantile_cont(late_s, 0.95), 6) AS p95_lateness_s,
           ROUND(quantile_cont(late_s, 0.99), 6) AS p99_lateness_s,
           CAST(MAX(late_s) AS BIGINT) AS max_lateness_s
    FROM l GROUP BY event_type
    """,
    tags=("event-time", "streaming", "statistics"),
)
def event_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrival-lateness distribution per event type — the measurement
    that TUNES a watermark: ``withWatermark(ts, X)`` drops everything
    later than X, so X is chosen from exactly this table (p95/p99
    lateness + how much the tail costs). Lateness here is synthesized
    deterministically from event_id (the schema carries no arrival
    column); with a real arrival timestamp the expression is
    ``arrival_ts - ts`` and nothing else changes. Exact integer
    seconds through the shared PERCENTILE_CONT interpolation
    (percentile_agg's contract, rounded 6 dp for last-ulp assoc
    differences); one map-side-combined aggregate per type."""
    ev = load_table(spark, sf_dir, "events")
    l = ev.select(
        "event_type", F.expr(f"CAST({_LATENESS_EXPR} AS BIGINT)").alias("late_s")
    )
    return l.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.round(F.percentile("late_s", F.lit(0.5)), 6).alias("p50_lateness_s"),
        F.round(F.percentile("late_s", F.lit(0.95)), 6).alias("p95_lateness_s"),
        F.round(F.percentile("late_s", F.lit(0.99)), 6).alias("p99_lateness_s"),
        F.max("late_s").cast("bigint").alias("max_lateness_s"),
    )


@query(
    "ohlc_resample",
    oracle="""
    SELECT user_id,
           time_bucket(INTERVAL 1 HOUR, ts) AS bucket,
           arg_min(value, epoch_us(ts) * 4096 + event_id % 4096) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           arg_max(value, epoch_us(ts) * 4096 + event_id % 4096) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_ticks
    FROM events
    WHERE user_id < 30
    GROUP BY user_id, time_bucket(INTERVAL 1 HOUR, ts)
    """,
    tags=("event-time", "time-series"),
)
def ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bar resampling — the canonical tick→bar time-series shape
    (open/high/low/close per key per hour). Open and close are
    min_by/max_by over an exact integer ordering key
    (microsecond-epoch ⊕ event_id tail) so ties are deterministic in both
    engines (single-BIGINT composite key) and the whole bar is ONE
    map-side-combinable aggregate:
    no window, no sort, one shuffle on (user, bucket) — at 100 TB the
    partial aggregation does almost all the work before the exchange.
    Values are pass-through doubles (no arithmetic), so the compare is
    bit-exact."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 30)
    ts = F.col("ts").cast("timestamp")
    # one BIGINT ordering key both engines aggregate identically:
    # microsecond epoch shifted 12 bits + a 12-bit event_id tail as the
    # equal-timestamp tie-break (epoch_us·4096 stays inside int64
    # through 2041). (user_id, ts) is unique in the testdata at every
    # SF, so the tail is belt-and-braces determinism, not load-bearing.
    order_key = F.unix_micros(ts) * 4096 + F.col("event_id") % 4096
    return (
        ev.groupBy(
            "user_id",
            F.date_trunc("hour", ts).cast("timestamp_ntz").alias("bucket"),
        )
        .agg(
            F.min_by("value", order_key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", order_key).alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
    )


#: candidate watermark delays (seconds) for the drop-rate table
WATERMARK_CANDIDATES = (60, 300, 900, 1800)


@query(
    "watermark_droprate_table",
    oracle=f"""
    WITH l AS (
        SELECT event_type, CAST({_LATENESS_EXPR} AS BIGINT) AS late_s
        FROM events),
    cand AS (SELECT unnest([60, 300, 900, 1800]) AS delay_s)
    SELECT c.delay_s, l.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(*) FILTER (WHERE l.late_s > c.delay_s) AS BIGINT)
               AS n_dropped,
           CAST(COUNT(*) FILTER (WHERE l.late_s > c.delay_s) * 1000000
                // COUNT(*) AS BIGINT) AS drop_ppm
    FROM l CROSS JOIN cand c
    GROUP BY c.delay_s, l.event_type
    """,
    tags=("event-time", "streaming", "statistics"),
)
def watermark_droprate_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermark DECISION TABLE — the step after
    ``event_lateness_profile``: for each candidate
    ``withWatermark(ts, X)`` delay, exactly how many events (and what
    parts-per-million) each type would LOSE to late-record dropping.
    Teams pick the knee of this curve; the engine computes it exactly
    from the same lateness synthesis (with a real arrival column the
    expression is ``arrival_ts - ts``, nothing else changes). The
    4-row candidate relation broadcasts; one aggregate over the
    replicated events — integer-exact ppm, no float division."""
    ev = load_table(spark, sf_dir, "events")
    l = ev.select(
        "event_type", F.expr(f"CAST({_LATENESS_EXPR} AS BIGINT)").alias("late_s")
    )
    cand = F.broadcast(
        local_relation(ev.sparkSession,
            [(d,) for d in WATERMARK_CANDIDATES], "delay_s int"
        )
    )
    return (
        l.crossJoin(cand)
        .groupBy("delay_s", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count(F.when(F.col("late_s") > F.col("delay_s"), 1))
            .cast("bigint")
            .alias("n_dropped"),
            F.floor(
                F.count(F.when(F.col("late_s") > F.col("delay_s"), 1))
                * 1_000_000
                / F.count(F.lit(1))
            )
            .cast("bigint")
            .alias("drop_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# time-weighted average (the irregular-series aggregate)


@query(
    "time_weighted_avg",
    oracle="""
    WITH seq AS (
        SELECT event_type, value,
               date_diff('microsecond', ts,
                         LEAD(ts) OVER (PARTITION BY event_type
                                        ORDER BY ts, event_id)) AS dt_us
        FROM events)
    SELECT event_type,
           -- VARCHAR hop: DuckDB's direct DECIMAL->DOUBLE cast double-rounds
           -- (int->double then /10^scale) once the unscaled value exceeds
           -- 2^53; strtod of the decimal string is correctly rounded, which
           -- is what Spark's BigDecimal.doubleValue produces.
           CAST(CAST(SUM(CAST(value AS DECIMAL(12,2)) * dt_us) AS VARCHAR) AS DOUBLE)
             / CAST(SUM(dt_us) AS DOUBLE) AS twa_value,
           COUNT(*) AS n_intervals
    FROM seq WHERE dt_us IS NOT NULL
    GROUP BY event_type
    """,
    tags=("event-time", "agg"),
)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted mean of ``value`` per event type: each reading is
    weighted by how long it remained the latest one (Δt to the next
    event, in integer µs). The standard aggregate for irregularly
    sampled series — a plain AVG over-weights bursts. Exactness: value
    is 2-dp, so DECIMAL(12,2)·bigint products and their sums are exact;
    the single final division is double-on-exact. Ordering ties broken
    by event_id so the lead() pairing is reproducible. Scale shape
    (re-planned r7 — the old single window partitioned by the 5-value
    type enum over raw rows serialized each group into one task): the
    LEAD decomposes over range slices — each slice computes its
    internal next-ts with a (slice, type)-partitioned window, and the
    slice-LAST row of each type patches its Δt from the FIRST ts of
    the next slice holding that type, delivered by a broadcast of the
    bounded per-(slice, type) firsts collect (n_slices × |types|
    rows). Then one map-side-combinable aggregate."""
    ev = load_table(spark, sf_dir, "events")
    parted = range_slices(
        ev.select("event_type", "value", "ts", "event_id"),
        ["event_type"],
        [F.col("ts"), F.col("event_id")],
    )
    seq = parted.select(
        "__pid",
        "event_type",
        "value",
        "ts",
        F.expr(
            "timestampdiff(MICROSECOND, ts, lead(ts) OVER "
            "(PARTITION BY __pid, event_type ORDER BY ts, event_id))"
        ).alias("dt_us"),
    )
    firsts = parted.groupBy("__pid", "event_type").agg(
        F.min("ts").alias("first_ts")
    ).collect()
    # for each (slice, type): the first ts of the NEXT slice holding
    # that type — the seam each slice-last row leads into
    by_type: dict[str, list] = {}
    for row in firsts:
        by_type.setdefault(row["event_type"], []).append(
            (row["__pid"], row["first_ts"])
        )
    seam_rows = []
    for et, lst in by_type.items():
        lst.sort()
        for (pid, _), (_, nxt_ts) in zip(lst, lst[1:]):
            seam_rows.append((pid, et, nxt_ts))
    ts_type = parted.schema["ts"].dataType
    seam_schema = T.StructType(
        [
            T.StructField("__pid", T.IntegerType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("next_ts", ts_type),
        ]
    )
    seams = local_relation(spark, seam_rows, seam_schema)
    patched = seq.join(F.broadcast(seams), ["__pid", "event_type"], "left").select(
        "event_type",
        "value",
        F.coalesce(
            F.col("dt_us"),
            F.expr("timestampdiff(MICROSECOND, ts, next_ts)"),
        ).alias("dt_us"),
    )
    return (
        patched.where(F.col("dt_us").isNotNull())
        .groupBy("event_type")
        .agg(
            (
                F.sum(F.col("value").cast("decimal(12,2)") * F.col("dt_us")).cast(
                    "double"
                )
                / F.sum("dt_us").cast("double")
            ).alias("twa_value"),
            F.count(F.lit(1)).alias("n_intervals"),
        )
    )


# ---------------------------------------------------------------------------
# SCD2 run-length history (change-tracking dimension build)


@query(
    "scd2_intervals",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type, ts, event_id,
               CASE WHEN event_type = LAG(event_type) OVER w THEN 0 ELSE 1 END AS chg
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    runs AS (
        SELECT user_id, event_type, ts,
               SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS run_id
        FROM seq),
    collapsed AS (
        SELECT user_id, event_type, run_id,
               MIN(ts) AS valid_from, COUNT(*) AS n_events
        FROM runs GROUP BY user_id, event_type, run_id)
    SELECT user_id, event_type, valid_from,
           LEAD(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY run_id) AS valid_to,
           n_events
    FROM collapsed
    """,
    tags=("event-time", "window", "scd"),
)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) build: collapse each user's
    event stream into runs of consecutive identical ``event_type`` and
    emit one validity interval per run (``valid_to`` = next run's start,
    NULL for the open current run). This is the change-history table a
    warehouse derives from a CDC/event feed. Gaps-and-islands via
    lag-compare → running change-count; all three windows share one
    partitioning on user_id, so the whole operator is a single shuffle.
    Ties on ts broken by event_id for reproducible run assembly."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(
            F.col("event_type") == F.lag("event_type").over(w), F.lit(0)
        )
        .otherwise(F.lit(1))
        .alias("chg"),
    )
    runs = seq.withColumn(
        "run_id", F.sum("chg").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    collapsed = runs.groupBy("user_id", "event_type", "run_id").agg(
        F.min("ts").alias("valid_from"), F.count(F.lit(1)).alias("n_events")
    )
    w_run = W.partitionBy("user_id").orderBy("run_id")
    return collapsed.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w_run).alias("valid_to"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# window rank distributions


@query(
    "window_percentile_dist",
    oracle="""
    SELECT s_suppkey, n_name AS nation, s_acctbal,
           PERCENT_RANK() OVER w AS pr,
           CUME_DIST() OVER w AS cd
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WINDOW w AS (PARTITION BY n_name ORDER BY s_acctbal, s_suppkey)
    """,
    tags=("window",),
)
def window_percentile_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENT_RANK / CUME_DIST over supplier balances within each
    nation — the relative-standing window family (the remaining gap
    after rank/dense_rank/ntile in window_analytics). Values are exact
    small-integer ratios, so the cross-engine hash is stable; the order
    key includes s_suppkey to pin tie handling. One window shuffle."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    w = W.partitionBy("n_name").orderBy("s_acctbal", "s_suppkey")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            "s_suppkey",
            F.col("n_name").alias("nation"),
            "s_acctbal",
            F.percent_rank().over(w).alias("pr"),
            F.cume_dist().over(w).alias("cd"),
        )
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
        # zero-variance guard: a degenerate
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
        # EXPLICIT count on the grouping exchange (AQE is blind to
        # per-group Python cost): the
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
        # with numpy inner loops, not an element-at-a-time Python
        # mergesort on this hot path.
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
        # degenerate guard: on zero viewers Spark's `div`
        # yields NULL while DuckDB's `//` diverges — pin 0 on both
        F.expr(
            "CAST(CASE WHEN count(1) = 0 THEN 0"
            f" ELSE count_if(pt IS NOT NULL AND pt - vt <= {FUNNEL_WINDOW_US})"
            " * 1000 div count(1) END AS BIGINT)"
        ).alias("conversion_permille"),
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
