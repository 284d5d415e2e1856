"""Analytics wave 4: value histograms, time-weighted averages, SCD2
run-length history, deterministic argmax aggregates, window rank
distributions, and three more LLM-corpus operators (prefix-containment
dedup, shingle-containment dedup, corpus-frequency quality scoring).

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
# prefix-containment dedup (truncated copies)

#: blocking prefix length: only docs at least this long participate
PREFIX_BLOCK = 50


@query(
    "dedup_prefix_containment",
    oracle=f"""
    SELECT a.doc_id AS doc_trunc, b.doc_id AS doc_full,
           CAST(LENGTH(a.text) AS DOUBLE) / LENGTH(b.text) AS len_ratio
    FROM documents a
    JOIN documents b
      ON SUBSTRING(a.text, 1, {PREFIX_BLOCK}) = SUBSTRING(b.text, 1, {PREFIX_BLOCK})
     AND LENGTH(a.text) < LENGTH(b.text)
     AND starts_with(b.text, a.text)
    WHERE LENGTH(a.text) >= {PREFIX_BLOCK}
    """,
    tags=("dedup", "llm-pipeline"),
)
def dedup_prefix_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated-copy detection: pairs where one document is a strict
    prefix of another (the classic crawl artifact — same page captured
    at different cut-offs; MinHash can miss these when the longer doc
    dwarfs the shared prefix). Candidate generation blocks on the first
    50 (PREFIX_BLOCK) characters, so the join is an equi-join on a short
    key — the full text only crosses the wire for rows sharing a block,
    and at 100 TB the block key would be xxhash64(prefix) instead of
    the prefix itself (same plan shape). Docs shorter than the block
    are out of scope by definition."""
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .where(F.length("text") >= PREFIX_BLOCK)
        .withColumn("blk", F.substring("text", 1, PREFIX_BLOCK))
    )
    a = d.select(
        F.col("doc_id").alias("doc_trunc"),
        F.col("text").alias("text_a"),
        "blk",
    )
    b = d.select(
        F.col("doc_id").alias("doc_full"), F.col("text").alias("text_b"), "blk"
    )
    return (
        a.join(b, "blk")
        .where(
            (F.length("text_a") < F.length("text_b"))
            & F.col("text_b").startswith(F.col("text_a"))
        )
        .select(
            "doc_trunc",
            "doc_full",
            (
                F.length("text_a").cast("double") / F.length("text_b")
            ).alias("len_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# shingle-containment dedup (quoted / embedded near-dups)

from watermill_kinesis_spark.operators.dedup import SHINGLE_N  # noqa: E402

#: containment threshold: |A∩B| / |A| for the smaller shingle set
CONTAIN_T = 0.8


@query(
    "dedup_containment_ngram",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(0, greatest(len(string_split(text, ' ')) - {SHINGLE_N}, 0) + 1),
                   i -> array_to_string(list_slice(string_split(text, ' '),
                                                   CAST(i + 1 AS INT),
                                                   CAST(i + {SHINGLE_N} AS INT)), ' ')
               )) AS shingles
        FROM documents),
    sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id),
    scored AS (
        SELECT p.doc_a, p.doc_b, p.n_common, sa.n AS na, sb.n AS nb
        FROM pairs p
        JOIN sizes sa ON sa.doc_id = p.doc_a
        JOIN sizes sb ON sb.doc_id = p.doc_b)
    SELECT doc_a AS doc_sub, doc_b AS doc_super,
           CAST(n_common AS DOUBLE) / na AS containment
    FROM scored WHERE CAST(n_common AS DOUBLE) / na >= {CONTAIN_T}
    UNION ALL
    SELECT doc_b AS doc_sub, doc_a AS doc_super,
           CAST(n_common AS DOUBLE) / nb AS containment
    FROM scored WHERE CAST(n_common AS DOUBLE) / nb >= {CONTAIN_T}
    """,
    tags=("dedup", "llm-pipeline"),
)
def dedup_containment_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle *containment* near-dup: C(A→B) = |A∩B| / |A| ≥ 0.8 (CONTAIN_T)
    — flags documents mostly contained in another (quotes, boilerplate
    wrapping, concatenated dumps) that symmetric Jaccard misses when
    the sizes differ a lot. Same inverted-index candidate generation as
    dedup_ngram_jaccard (cost Σ posting-list², never n²); each
    surviving pair is emitted in whichever direction(s) clear the
    threshold. Pure integer ratios → exact, order-independent. Set
    sizes ride the exploded posting rows (dedup._shared_shingle_pairs),
    so the corpus is shingled exactly once."""
    from watermill_kinesis_spark.operators.dedup import _shared_shingle_pairs

    scored = _shared_shingle_pairs(spark, sf_dir)
    # BOTH directions in one pass (optimization round 13): the former
    # fwd.unionAll(rev) planned the whole pair pipeline TWICE (union
    # children are independent subtrees; nothing merged them). Each
    # surviving pair row explodes into its two direction candidates and
    # one filter keeps whichever clear the threshold — output-identical
    # (the oracle compare is order-insensitive), half the work.
    c_ab = F.col("n_common").cast("double") / F.col("na")
    c_ba = F.col("n_common").cast("double") / F.col("nb")
    return (
        scored.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("doc_sub"),
                        F.col("doc_b").alias("doc_super"),
                        c_ab.alias("containment"),
                    ),
                    F.struct(
                        F.col("doc_b").alias("doc_sub"),
                        F.col("doc_a").alias("doc_super"),
                        c_ba.alias("containment"),
                    ),
                )
            ).alias("r")
        )
        .select("r.*")
        .where(F.col("containment") >= CONTAIN_T)
    )


#: document-frequency ceiling for the capped containment face: a
#: shingle appearing in more docs than this is boilerplate, carries
#: ~no near-dup signal, and is the Σ|posting|² skew magnet — the
#: standard inverted-index hot-term drop
CONTAIN_DF_CAP = 100


@query(
    "dedup_containment_capped",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(0, greatest(len(string_split(text, ' ')) - {SHINGLE_N}, 0) + 1),
                   i -> array_to_string(list_slice(string_split(text, ' '),
                                                   CAST(i + 1 AS INT),
                                                   CAST(i + {SHINGLE_N} AS INT)), ' ')
               )) AS shingles
        FROM documents),
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    df AS (SELECT shingle, COUNT(*) AS df FROM ex GROUP BY shingle),
    kept AS (
        SELECT ex.doc_id, ex.shingle
        FROM ex JOIN df USING (shingle) WHERE df.df <= {CONTAIN_DF_CAP}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM kept a JOIN kept b ON a.shingle = b.shingle
                               AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id),
    scored AS (
        SELECT p.doc_a, p.doc_b, p.n_common, sa.n AS na, sb.n AS nb
        FROM pairs p
        JOIN sizes sa ON sa.doc_id = p.doc_a
        JOIN sizes sb ON sb.doc_id = p.doc_b)
    SELECT doc_a AS doc_sub, doc_b AS doc_super,
           CAST(n_common AS DOUBLE) / na AS containment
    FROM scored WHERE CAST(n_common AS DOUBLE) / na >= {CONTAIN_T}
    UNION ALL
    SELECT doc_b AS doc_sub, doc_a AS doc_super,
           CAST(n_common AS DOUBLE) / nb AS containment
    FROM scored WHERE CAST(n_common AS DOUBLE) / nb >= {CONTAIN_T}
    """,
    tags=("dedup", "llm-pipeline"),
)
def dedup_containment_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DF-capped twin of ``dedup_containment_ngram`` (VERDICT r12 task
    7): drop shingles whose document frequency exceeds CONTAIN_DF_CAP
    before the posting-list self-join — the standard inverted-index
    hot-term trick. The exact face's Σ|posting|² candidate generation
    is quadratic in per-shingle document frequency, so one hot
    boilerplate shingle ("all rights reserved …" in a crawl, or every
    shingle of a ×100-duplicated corpus) dominates the join; capping
    bounds every posting's pair contribution at CONTAIN_DF_CAP² and
    makes the whole plan's shuffle O(Σ min(df, cap)²) — flat in corpus
    duplication, the property the exact face lacks (its 100× OOM,
    SCALE.md r12).

    CONTRACT, stated honestly: containment is computed over the
    sub-cap shingle VOCABULARY — both |A∩B| and |A| count only kept
    shingles, a self-consistent redefinition rather than a biased
    estimate of the exact score. The recall trade: a pair whose
    overlap is mostly boilerplate no longer qualifies (that's the
    point); a pair whose distinctive shingles overlap still scores
    ≥ the threshold. Docs whose every shingle is hot leave the
    relation (no zero-denominator row). On corpora with no shingle
    above the cap the output EQUALS the exact face's, which is the
    sf0.01 oracle condition; the cap behavior itself is pinned by a
    hot-shingle pytest fixture (tests/test_analytics2.py)."""
    from watermill_kinesis_spark.operators.dedup import _shingle_rows

    # ONE corpus kernel pass (shared _shingle_rows, see its docstring
    # for why the declarative HOF spelling planned pathologically),
    # then posting arrays per shingle; hot-shingle rows never reach
    # the pair stage, which is the property that bounds the plan at
    # 100 TB. The shingle repartition carries an EXPLICIT count
    # (REPARTITION_BY_NUM, exempt from AQE coalescing): posting bytes
    # are tiny, the pair inline explodes Σ min(df, cap)² rows AQE
    # cannot see (guide §2.5).
    from watermill_kinesis_spark.sources.tables import adaptive_partitions

    ex = (
        _shingle_rows(spark, sf_dir)
        .select("doc_id", "shingle")
        # geometry-derived explicit count (optimization round 14; see
        # dedup._shared_shingle_pairs for the sizing rationale)
        .repartition(
            adaptive_partitions(
                spark, sf_dir, "documents", expand=10 * SHINGLE_N
            ),
            "shingle",
        )
    )
    # The DF cap is enforced on a DISK-SPILLABLE operator BEFORE any
    # posting array is materialized (optimization round 14, ADVICE
    # r13): a collect_list over an uncapped group buffers O(df)
    # doc_ids in one in-memory aggregation buffer, so a hot
    # boilerplate shingle at the 100 TB design point would hold an
    # O(corpus) array in one task — the cap no longer bounded executor
    # memory, only the pair stage. A count window over the same
    # shingle partitioning computes df while its partition-group
    # buffer (ExternalAppendOnlyUnsafeRowArray) spills to disk past
    # the in-memory threshold, so a hot shingle costs disk, not heap;
    # only surviving rows reach collect_list, bounding every posting
    # buffer at CONTAIN_DF_CAP entries. Cost stays one corpus
    # shuffle + one spillable sort: the window and the groupBy both
    # reuse the explicit shingle exchange. (A count-aggregate +
    # semi-join spelling was measured first: column pruning makes the
    # two exchange subtrees non-identical, so the serial shingle
    # kernel ran TWICE — profiled +1.2 s at sf0.1.)
    posting = (
        ex.withColumn("df", F.count(F.lit(1)).over(W.partitionBy("shingle")))
        .where(F.col("df") <= CONTAIN_DF_CAP)
        .groupBy("shingle")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("docs"))
    )
    kept = posting.select(F.explode("docs").alias("doc_id"))
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    pairs = (
        posting.where(F.size("docs") >= 2)
        .select(
            F.expr(
                "inline(flatten(transform(docs, (x, i) ->"
                " transform(slice(docs, i + 2, size(docs) - i - 1), y ->"
                " struct(x AS doc_a, y AS doc_b)))))"
            )
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    scored = (
        pairs.join(sizes.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("n", "nb"), "doc_b")
    )
    # both directions in one pass (see dedup_containment_ngram)
    c_ab = F.col("n_common").cast("double") / F.col("na")
    c_ba = F.col("n_common").cast("double") / F.col("nb")
    return (
        scored.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("doc_sub"),
                        F.col("doc_b").alias("doc_super"),
                        c_ab.alias("containment"),
                    ),
                    F.struct(
                        F.col("doc_b").alias("doc_sub"),
                        F.col("doc_a").alias("doc_super"),
                        c_ba.alias("containment"),
                    ),
                )
            ).alias("r")
        )
        .select("r.*")
        .where(F.col("containment") >= CONTAIN_T)
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
