"""Fifth relational batch: outer-join completion, time-RANGE window
frames, benchmark decontamination, and deterministic corpus shuffling.

Reference basis: none — driver-mandated Layer B (the reference engine
has no relational surface, SURVEY.md §2-B). Same determinism
discipline as relational.py: exact integer/cent arithmetic for float
aggregates, unique-key tie breaks, no RNG (hashes stand in for
randomness so results are engine- and run-stable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from watermill_kinesis_spark.functions.distscan import (
    grouped_scan,
    group_sizes_df,
)
from watermill_kinesis_spark.functions.exact import dsum, sql_dsum
from watermill_kinesis_spark.functions.localrel import local_relation
from watermill_kinesis_spark.functions.textexpr import word_ngram_rows
from watermill_kinesis_spark.registry import query
from watermill_kinesis_spark.sources.tables import load_table


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


#: decontamination: n-gram order and overlap threshold
DECON_N = 5
DECON_MIN_HITS = 3


@query(
    "decontaminate_ngram",
    oracle=f"""
    WITH eval_docs AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE doc_id < 50),
    train_docs AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE doc_id >= 50),
    eval_grams AS (
        SELECT DISTINCT array_to_string(list_slice(toks, i, i + {DECON_N - 1}), ' ') AS gram
        FROM eval_docs, unnest(generate_series(1, len(toks) - {DECON_N - 1})) AS t(i)),
    train_grams AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(toks, i, i + {DECON_N - 1}), ' ') AS gram
        FROM train_docs, unnest(generate_series(1, len(toks) - {DECON_N - 1})) AS t(i))
    SELECT t.doc_id, COUNT(*) AS n_shared_grams
    FROM train_grams t JOIN eval_grams e USING (gram)
    GROUP BY t.doc_id
    HAVING COUNT(*) >= {DECON_MIN_HITS}
    """,
    tags=("pipeline", "dedup", "decontamination", "llm-pipeline"),
)
def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the pre-training hygiene pass that
    flags training documents sharing ≥k distinct n-grams with an
    evaluation set. Eval docs (tiny by construction) explode to a
    DISTINCT 5-gram set that Catalyst broadcasts; the training corpus
    explodes to (doc_id, gram) pairs that join against it — no shuffle
    of the corpus side, candidates travel as ids+grams only. At 100 TB
    the eval-gram set stays benchmark-sized (MBs), so the broadcast
    pattern holds at any corpus scale."""
    d = load_table(spark, sf_dir, "documents")
    eval_grams = (
        word_ngram_rows(d.where(F.col("doc_id") < 50), DECON_N)
        .select("gram")
        .distinct()
    )
    # join RAW train grams against the broadcast and dedup only the
    # survivors (countDistinct): the corpus-wide (doc_id, gram)
    # dropDuplicates shuffle this replaces is the whole training set's
    # n-grams — post-join it's just the contaminated candidates.
    train_grams = word_ngram_rows(d.where(F.col("doc_id") >= 50), DECON_N)
    return (
        train_grams.join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("n_shared_grams"))
        .where(F.col("n_shared_grams") >= DECON_MIN_HITS)
    )


@query(
    "corpus_shuffle_hash",
    oracle="""
    SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS shuffle_key,
           ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS shuffle_pos
    FROM documents
    WHERE doc_id < 2000
    """,
    tags=("pipeline", "sampling", "llm-pipeline"),
)
def corpus_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training order: order by a
    cryptographic hash of the document id — statistically a random
    permutation, yet identical on every engine, run, and cluster size
    (rand()-based shuffles are neither reproducible nor safe under task
    retries). The global position is assigned WITHOUT a single-partition
    window: md5's first byte range-buckets rows into 256 fixed,
    data-independent ranges; each bucket numbers its rows in parallel,
    and per-bucket offsets (a 256-row driver-side cumsum — constant in
    corpus size) lift local numbers to global positions. At 100 TB,
    widen to more hex chars for more buckets; no sampling, no skew (the
    hash is uniform by construction)."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 2000)
    key = F.md5(F.col("doc_id").cast("string"))
    bucket = F.conv(F.substring(key, 1, 2), 16, 10).cast("int")
    rows = d.select(
        "doc_id", key.alias("shuffle_key"), bucket.alias("bucket")
    )
    w = W.partitionBy("bucket").orderBy("shuffle_key", "doc_id")
    numbered = rows.withColumn("rn", F.row_number().over(w))
    counts = sorted(
        (r.bucket, r.n)
        for r in rows.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    offsets, acc = [], 0
    for b, n in counts:
        offsets.append((b, acc))
        acc += n
    off = F.broadcast(
        local_relation(numbered.sparkSession, offsets, "bucket int, offset long")
    )
    return (
        numbered.join(off, "bucket")
        .select(
            "doc_id",
            "shuffle_key",
            (F.col("offset") + F.col("rn")).alias("shuffle_pos"),
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
    "cusum_changepoint",
    oracle="""
    WITH seq AS (
        SELECT event_type,
               CAST(FLOOR(value * 100 + 0.5) AS HUGEINT) AS xc,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY ts, event_id) AS pos
        FROM events),
    tot AS (
        SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(xc) AS HUGEINT) AS s
        FROM seq GROUP BY event_type),
    cus AS (
        SELECT seq.event_type, pos,
               SUM(CAST(tot.n AS HUGEINT) * xc - tot.s) OVER (
                   PARTITION BY seq.event_type ORDER BY pos) AS c
        FROM seq JOIN tot USING (event_type)),
    best AS (
        SELECT event_type, pos, ABS(c) AS a,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY ABS(c) DESC, pos) AS rn
        FROM cus)
    SELECT b.event_type, t.n AS n_events,
           CAST(b.pos AS BIGINT) AS changepoint_pos,
           CAST(b.a AS BIGINT) AS max_abs_cusum_scaled
    FROM (SELECT * FROM best WHERE rn = 1) b
    JOIN (SELECT event_type, CAST(n AS BIGINT) AS n FROM tot) t
      USING (event_type)
    """,
    tags=("evaluation", "timeseries", "monitoring"),
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection per event type — the level-shift
    monitor a pipeline runs on a metric stream: the cumulative sum of
    mean-deviations peaks where the level changed. Kept EXACT by
    clearing the rational mean: cusumₖ = Σᵢ≤ₖ (n·xᵢ − S) = n·(Σᵢ≤ₖ xᵢ)
    − k·S (x in half-up centi-units) is pure integer arithmetic, and
    the change-point is the (deterministically tie-broken) position
    of max |cusum|. Scale shape: position k and the running Σxᵢ both
    come from ONE distributed :func:`grouped_scan` pass (range
    slices + local windows + broadcast offsets — no window
    partitioned by the 5-value type enum over raw rows), per-type
    (n, S) ride the scan's free totals as a broadcast |types|-row
    relation, and the arg-max is a per-type max aggregate joined back
    (min pos on ties — same order as the oracle's rank). Wide terms
    ride decimal(38,0)/HUGEINT — n·x terms pass int64 around 10⁹
    rows per series."""
    ev = load_table(spark, sf_dir, "events")
    seq = ev.select(
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("decimal(19,0)").alias("xc"),
        "ts",
        "event_id",
    )
    scan, totals = grouped_scan(
        seq,
        ["event_type"],
        [F.col("ts"), F.col("event_id")],
        sum_cols=["xc"],
    )
    sizes = group_sizes_df(
        spark, totals, scan.select("event_type").schema, extra=["xc"]
    )
    cus = scan.join(F.broadcast(sizes), "event_type").select(
        "event_type",
        F.col("rn").alias("pos"),
        F.abs(
            F.col("n").cast("decimal(38,0)") * F.col("cum_xc")
            - F.col("rn").cast("decimal(38,0)") * F.col("tot_xc")
        )
        .cast("decimal(38,0)")
        .alias("a"),
        F.col("n"),
    )
    amax = cus.groupBy("event_type").agg(F.max("a").alias("amax"))
    best = (
        cus.join(F.broadcast(amax), "event_type")
        .where(F.col("a") == F.col("amax"))
        .groupBy("event_type")
        .agg(
            F.min("pos").alias("pos"),
            F.first("amax").alias("a"),
            F.first("n").alias("n"),
        )
    )
    return best.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_events"),
        F.col("pos").cast("bigint").alias("changepoint_pos"),
        F.col("a").cast("bigint").alias("max_abs_cusum_scaled"),
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
