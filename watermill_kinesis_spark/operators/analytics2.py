"""Value histograms, time-weighted averages, SCD2 run-length history,
deterministic argmax aggregates, window rank distributions, and two
corpus statistics (corpus-frequency quality scoring, vocabulary
growth).

Determinism discipline (same as analytics.py): every float reaching the
oracle hash is either a raw-data projection, an exact integer ratio, or
an IEEE-754 expression written operand-for-operand identically in the
DuckDB oracle — double arithmetic is deterministic given identical
operand order, so the hashes stay bit-stable across engines and
partition orderings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F
from pyspark.sql import types as T

from watermill_kinesis_spark.functions.distscan import range_slices
from watermill_kinesis_spark.functions.localrel import local_relation
from watermill_kinesis_spark.registry import query
from watermill_kinesis_spark.sources.tables import fanned_documents, load_table

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
# corpus-frequency quality score (count-based LM proxy)

#: a token is "rare" if its corpus frequency is at or below this
RARE_T = 2


@query(
    "unigram_freq_score",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents),
    freq AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok)
    SELECT t.doc_id,
           COUNT(*) AS n_toks,
           CAST(SUM(f.cnt) AS DOUBLE) / COUNT(*) AS avg_tok_freq,
           CAST(SUM(CASE WHEN f.cnt <= {RARE_T} THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS rare_frac
    FROM toks t JOIN freq f ON t.tok = f.tok
    GROUP BY t.doc_id
    """,
    tags=("text", "llm-pipeline"),
)
def unigram_freq_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-based language-model quality proxy: score each document by
    the corpus-wide frequency of its own tokens — low average frequency
    and a high rare-token fraction mark gibberish, OCR noise, and
    boilerplate-free outliers (the integer-exact cousin of a KenLM
    perplexity filter; log-prob variants differ per-libm and would
    flake a bit-exact oracle). Two shuffles at scale: token-count
    aggregate, then token→doc re-aggregate; the frequency table joins
    back by token with a pinned ``shuffle_hash`` — it is a
    corpus-derived string dictionary, the build-side class whose
    compressed-size estimate AQE under-sizes (the r9
    ngram_novelty_score OOM; plan_audit's DictBcast guard)."""
    toks = fanned_documents(spark, sf_dir).select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        toks.join(freq.hint("shuffle_hash"), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            (F.sum("cnt").cast("double") / F.count(F.lit(1))).alias("avg_tok_freq"),
            (
                F.sum(
                    F.when(F.col("cnt") <= RARE_T, F.lit(1)).otherwise(F.lit(0))
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("rare_frac"),
        )
    )


#: documents per batch for the vocabulary growth curve — per-document
#: granularity: the curve's row count is bounded by |vocabulary| (only
#: batches that INTRODUCE a token appear), not by corpus size
VOCAB_CURVE_BATCH = 1


@query(
    "vocab_growth_curve",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id // {VOCAB_CURVE_BATCH} AS batch, unnest(string_split(lower(trim(text)), ' ')) AS token
        FROM documents),
    first_seen AS (
        SELECT token, MIN(batch) AS first_batch FROM toks GROUP BY token),
    per_batch AS (
        SELECT first_batch AS batch, COUNT(*) AS n_new FROM first_seen GROUP BY first_batch)
    SELECT batch,
           CAST(n_new AS BIGINT) AS n_new_tokens,
           CAST(SUM(n_new) OVER (ORDER BY batch ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS vocab_size
    FROM per_batch
    """,
    tags=("text", "corpus", "llm-pipeline"),
)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth (Heaps' law) over ingestion order: how many
    NEVER-SEEN tokens each successive document contributes, and the
    running vocabulary size — the curve that tells a corpus team when
    additional data stops buying lexical diversity (and what
    vocabulary budget a tokenizer needs). First-seen is one (token →
    min batch) aggregate — tokens travel once; the cumulative sum runs
    over a relation with AT MOST |vocabulary| rows (only batches that
    introduced a new token survive the aggregate) — the group-bounded
    window pattern at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        (F.col("doc_id") / VOCAB_CURVE_BATCH).cast("long").alias("batch"),
        F.explode(F.split(F.lower(F.trim("text")), " ")).alias("token"),
    )
    first_seen = toks.groupBy("token").agg(F.min("batch").alias("first_batch"))
    per_batch = first_seen.groupBy(F.col("first_batch").alias("batch")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    w = W.orderBy("batch").rowsBetween(W.unboundedPreceding, W.currentRow)
    return per_batch.select(
        "batch",
        F.col("n_new").cast("bigint").alias("n_new_tokens"),
        F.sum("n_new").over(w).cast("bigint").alias("vocab_size"),
    )
