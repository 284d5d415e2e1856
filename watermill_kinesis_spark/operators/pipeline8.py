"""Pipeline wave 8 (round 10): lexical-richness profiling, token
burstiness, cross-source distribution drift, nonparametric length
testing, dedup token accounting, event-cadence bot screening, and the
Murphy decomposition of forecast calibration.

The reference has no relational surface at all (SURVEY.md §2-B); these
are Layer-B LLM-corpus operators extending the driver's north star.
Cross-engine determinism discipline (see pipeline6/7): exact integer
counts and cross-multiplied rationals wherever possible; where a
statistic is irreducibly real-valued (the Mann-Whitney z) BOTH engines
evaluate the same double expression from the same exact bigint moments
— single IEEE-754 op sequence, sqrt only (correctly rounded per IEEE,
so bit-exact cross-engine; ln/exp are not), e-notation float literals
only (bare ``2.2`` parses as DECIMAL on both engines and rounds
differently than double).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from watermill_kinesis_spark.registry import query
from watermill_kinesis_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# lexical richness: Yule's K + Sichel's S + hapax ratio per source


@query(
    "yule_sichel_richness",
    oracle="""
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE text IS NOT NULL AND source IS NOT NULL),
    c AS (SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
    a AS (
        SELECT source, SUM(c) AS n, COUNT(*) AS v, SUM(c * c) AS s2,
               COUNT_IF(c = 1) AS f1, COUNT_IF(c = 2) AS f2
        FROM c GROUP BY source)
    SELECT source, CAST(n AS BIGINT) AS n_tokens, CAST(v AS BIGINT) AS v_types,
           CAST(CAST(10000000 AS HUGEINT) * (s2 - n)
                // (CAST(n AS HUGEINT) * CAST(n AS HUGEINT)) AS BIGINT)
               AS yule_k_x1000,
           CAST(1000 * f2 // v AS BIGINT) AS sichel_s_permille,
           CAST(1000 * f1 // v AS BIGINT) AS hapax_permille
    FROM a
    """,
    tags=("text", "quality", "statistics", "llm-pipeline"),
)
def yule_sichel_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical-richness profile — the three classical
    closed-form constants corpus linguists use to compare text
    collections WITHOUT a log anywhere (Herdan's C and Honoré need
    ln, which is not cross-engine bit-exact; these are):

    - **Yule's K** = 10⁴·(Σc² − N)/N² over token frequencies c —
      repetitiveness of the vocabulary, size-invariant; reported
      ×1000. The squared terms ride decimal(38,0) ↔ HUGEINT (the
      chi2_statistic_exact convention): 10⁷·(Σc²−N) clears int64
      already at the 100× replica (Σc² ~ 10¹³ per source), so both
      engines compute the quotient in 128-bit exactly.
    - **Sichel's S** = f₂/V (proportion of dis legomena) and the
      **hapax ratio** f₁/V, both exact permille — the two
      frequency-spectrum statistics behind vocabulary-growth models
      (Sichel 1975; complements ``chao1_vocab_richness``'s f₁/f₂
      estimator with the spectrum proportions themselves).

    Plan: one corpus explode to (source, tok) counts (map-side
    combinable), then a vocabulary-sized rollup to |sources| rows —
    nothing downstream of the first aggregate is corpus-scale. All
    quotients truncate nonnegative numerators (Σc² ≥ N by c ≥ 1), so
    Spark ``div`` and DuckDB ``//`` agree."""
    toks = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull() & F.col("source").isNotNull())
        .select("source", F.explode(F.split("text", " ")).alias("tok"))
    )
    c = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    a = c.groupBy("source").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("v"),
        F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * c")).alias("s2"),
        F.count_if(F.col("c") == 1).alias("f1"),
        F.count_if(F.col("c") == 2).alias("f2"),
    )
    return a.selectExpr(
        "source",
        "CAST(n AS BIGINT) AS n_tokens",
        "CAST(v AS BIGINT) AS v_types",
        "CAST(CAST(10000000 AS DECIMAL(38,0)) * (s2 - n)"
        " div (CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0)))"
        " AS BIGINT) AS yule_k_x1000",
        "CAST((1000 * f2) div v AS BIGINT) AS sichel_s_permille",
        "CAST((1000 * f1) div v AS BIGINT) AS hapax_permille",
    )


# ---------------------------------------------------------------------------
# token burstiness (Church-Gale adaptation)

#: report the BURST_TOP_N highest-document-frequency tokens
BURST_TOP_N = 150


@query(
    "token_burstiness_topk",
    oracle=f"""
    WITH td AS (
        SELECT tok, doc_id, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents WHERE text IS NOT NULL)
        GROUP BY tok, doc_id),
    per_tok AS (
        SELECT tok, COUNT(*) AS df, COUNT_IF(c >= 2) AS df2, SUM(c) AS tf
        FROM td GROUP BY tok)
    SELECT tok, CAST(df AS BIGINT) AS df, CAST(tf AS BIGINT) AS tf,
           CAST(1000 * df2 // df AS BIGINT) AS burstiness_permille,
           CAST(1000 * tf // df AS BIGINT) AS mean_in_doc_permille
    FROM per_tok
    ORDER BY df DESC, tok
    LIMIT {BURST_TOP_N}
    """,
    tags=("text", "statistics", "llm-pipeline"),
)
def token_burstiness_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token burstiness for the top document-frequency tokens — the
    Church & Gale (1995) observation behind burstiness-aware term
    weighting: function words recur in a document at near-Poisson
    rates while content words, once they appear, tend to appear
    AGAIN. Reported per token as the exact adaptation probability
    P(c ≥ 2 | c ≥ 1) = docs-with-repeats / docs-containing (permille)
    plus the mean in-document count (permille) — both pure integer
    quotients. Consumes the same (token, doc) granularity as
    ``token_dispersion_stats`` but answers the within-document
    question its Fano/DP corpus-dispersion columns do not. Plan: one
    corpus explode → (tok, doc) counts → vocabulary-sized per-token
    rollup → TakeOrderedAndProject top-N with a total order (df desc,
    tok) — never a global sort, nothing broadcast."""
    td = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok", "doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_tok = td.groupBy("tok").agg(
        F.count(F.lit(1)).alias("df"),
        F.count_if(F.col("c") >= 2).alias("df2"),
        F.sum("c").alias("tf"),
    )
    return (
        per_tok.selectExpr(
            "tok",
            "CAST(df AS BIGINT) AS df",
            "CAST(tf AS BIGINT) AS tf",
            "CAST((1000 * df2) div df AS BIGINT) AS burstiness_permille",
            "CAST((1000 * tf) div df AS BIGINT) AS mean_in_doc_permille",
        )
        .orderBy(F.desc("df"), F.asc("tok"))
        .limit(BURST_TOP_N)
    )


# ---------------------------------------------------------------------------
# total variation distance between source unigram distributions


@query(
    "unigram_tvd_sources",
    oracle="""
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE text IS NOT NULL AND source IS NOT NULL),
    ps AS (SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
    w AS (SELECT source, SUM(len(string_split(text, ' '))) AS n
          FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
          GROUP BY source),
    common AS (
        SELECT a.source AS src_a, b.source AS src_b,
               COUNT(*) AS n_common,
               SUM(ABS(a.c * wb.n - b.c * wa.n)) AS sum_abs,
               SUM(a.c) AS s_a, SUM(b.c) AS s_b
        FROM ps a JOIN ps b ON a.tok = b.tok AND a.source < b.source
        JOIN w wa ON wa.source = a.source
        JOIN w wb ON wb.source = b.source
        GROUP BY 1, 2),
    pairs AS (
        SELECT wa.source AS src_a, wb.source AS src_b,
               wa.n AS n_a, wb.n AS n_b
        FROM w wa JOIN w wb ON wa.source < wb.source)
    SELECT p.src_a, p.src_b,
           CAST(COALESCE(c.n_common, 0) AS BIGINT) AS n_common_types,
           CAST(1000 * (COALESCE(c.sum_abs, 0)
                        + (p.n_a - COALESCE(c.s_a, 0)) * p.n_b
                        + (p.n_b - COALESCE(c.s_b, 0)) * p.n_a)
                // (2 * p.n_a * p.n_b) AS BIGINT) AS tvd_permille
    FROM pairs p LEFT JOIN common c
      ON c.src_a = p.src_a AND c.src_b = p.src_b
    """,
    tags=("text", "statistics", "drift", "llm-pipeline"),
)
def unigram_tvd_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total variation distance ½·Σ|p−q| between every pair of source
    unigram distributions — the exact-rational drift matrix where KL
    and Jensen-Shannon need logs (not cross-engine bit-exact): 0 =
    same distribution, 1000‰ = disjoint vocabularies. The
    distribution-level companion of ``vocab_jaccard_sources`` (which
    compares vocabularies as SETS); every source pair is emitted,
    including zero-overlap pairs at exactly 1000‰ (the complete pair
    frame comes from the bounded per-source totals, LEFT-joined to
    the common-token stats). Absent-part closed form (the
    t_closeness fold): only tokens present in BOTH sources join —
    Σ_only-a p = (N_a − Σ_common c_a)/N_a and symmetrically — so the
    join is inner, never full-outer, and nothing vocabulary-sized
    leaves the pair aggregate. All arithmetic is cross-multiplied
    over the common denominator N_a·N_b: int64-exact while
    1000·2·N_a·N_b < 2⁶³ (per-source token counts to ~2·10⁷ — holds
    through the 100× replica; past that, lift to decimal(38,0) ↔
    HUGEINT). The vocabulary self-join is pinned ``shuffle_hash``:
    both sides are corpus-derived token dictionaries, the build-side
    class AQE must never broadcast (the r9 rule; plan_audit's
    DictBcast column enforces the static face). Per-source totals
    need NO second explode — sum(size(split)) per doc row."""
    d = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & F.col("source").isNotNull()
    )
    ps = (
        d.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).alias("n")
    )
    a = ps.select(
        F.col("source").alias("src_a"), "tok", F.col("c").alias("c_a")
    )
    b = ps.select(
        F.col("source").alias("src_b"), "tok", F.col("c").alias("c_b")
    )
    wa = w.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    wb = w.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    common = (
        a.join(b.hint("shuffle_hash"), "tok")
        .where(F.col("src_a") < F.col("src_b"))
        .join(F.broadcast(wa), "src_a")
        .join(F.broadcast(wb), "src_b")
        .groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(
                F.abs(F.col("c_a") * F.col("n_b") - F.col("c_b") * F.col("n_a"))
            ).alias("sum_abs"),
            F.sum("c_a").alias("s_a"),
            F.sum("c_b").alias("s_b"),
        )
    )
    # COMPLETE pair frame (review finding): a source pair with zero
    # shared tokens never joins, but its TVD is exactly 1000‰ — build
    # every pair from the bounded totals relation and LEFT-join the
    # common-token stats, so "maximal drift" and "not measured" can't
    # be conflated
    pairs = (
        wa.crossJoin(wb)
        .where(F.col("src_a") < F.col("src_b"))
    )
    full = pairs.join(common, ["src_a", "src_b"], "left")
    return full.selectExpr(
        "src_a",
        "src_b",
        "CAST(COALESCE(n_common, 0) AS BIGINT) AS n_common_types",
        "CAST((1000 * (COALESCE(sum_abs, 0)"
        " + (n_a - COALESCE(s_a, 0)) * n_b"
        " + (n_b - COALESCE(s_b, 0)) * n_a))"
        " div (2 * n_a * n_b) AS BIGINT) AS tvd_permille",
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U (nonparametric length drift, en vs rest)


@query(
    "mann_whitney_u_lengths",
    oracle="""
    WITH vals AS (
        SELECT n_chars AS v, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS g
        FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
    per_v AS (
        SELECT v, COUNT_IF(g = 1) AS n1v, COUNT_IF(g = 0) AS n0v,
               COUNT(*) AS t
        FROM vals GROUP BY v),
    ranked AS (
        SELECT *,
               COALESCE(SUM(t) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before
        FROM per_v),
    m AS (
        SELECT SUM(n1v) AS n1, SUM(n0v) AS n0,
               SUM(n1v * (2 * cum_before + t + 1)) AS r1x2,
               SUM(t * t * t - t) AS t3t
        FROM ranked)
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n0 AS BIGINT) AS n0,
           CAST(r1x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
           CAST(2 * n1 * n0 - (r1x2 - n1 * (n1 + 1)) AS BIGINT) AS u2_x2,
           CAST(t3t AS BIGINT) AS tie_t3t,
           CASE WHEN n1 > 0 AND n0 > 0 AND (n1 + n0) > 1
                     AND (CAST(n1 AS DOUBLE) * n0 / 12e0)
                         * ((n1 + n0 + 1e0)
                            - CAST(t3t AS DOUBLE)
                              / (CAST(n1 + n0 AS DOUBLE) * (n1 + n0 - 1e0)))
                         > 0e0
                THEN CAST(r1x2 - n1 * (n1 + 1) - n1 * n0 AS DOUBLE)
                     / (2e0 * sqrt((CAST(n1 AS DOUBLE) * n0 / 12e0)
                        * ((n1 + n0 + 1e0)
                           - CAST(t3t AS DOUBLE)
                             / (CAST(n1 + n0 AS DOUBLE) * (n1 + n0 - 1e0)))))
                ELSE 0e0 END AS z
    FROM m
    """,
    tags=("evaluation", "statistics", "drift", "llm-pipeline"),
)
def mann_whitney_u_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U test of document length, English vs everything
    else — the NONPARAMETRIC companion of ``welch_ttest_lengths``
    (rank-based, so heavy-tailed length distributions can't fake or
    mask a drift the way they can a t statistic). Midranks over ties
    are kept integral by the ×2 trick: 2·midrank(v) = 2·(count below)
    + t_v + 1, so 2·R₁ and both 2·U statistics are EXACT bigints, and
    the tie-corrected normal approximation z is emitted as one shared
    double expression over those bigint moments (its only
    transcendental is sqrt — IEEE-correctly-rounded, bit-exact
    cross-engine; the Welch precedent). Zero-variance and empty-group
    edges return z = 0 by the same CASE on both engines. Plan: the
    corpus collapses to |distinct n_chars| aggregated rows FIRST; the
    cumulative window then runs over that bounded value table (the
    plan-audit single-partition exemption: aggregate below), and the
    final moments are one scalar aggregate. Bounds: Σ(t³−t) ≤ n³
    needs n ≲ 2·10⁶ per distinct-value tie group for int64 — holds at
    the 100× replica (n = 5·10⁵ total); past that lift to
    decimal(38,0)."""
    vals = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("n_chars").isNotNull() & F.col("lang").isNotNull())
        .select(
            F.col("n_chars").alias("v"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("g"),
        )
    )
    per_v = vals.groupBy("v").agg(
        F.count_if(F.col("g") == 1).alias("n1v"),
        F.count_if(F.col("g") == 0).alias("n0v"),
        F.count(F.lit(1)).alias("t"),
    )
    cum = W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    ranked = per_v.select(
        "n1v",
        "n0v",
        "t",
        F.coalesce(F.sum("t").over(cum), F.lit(0)).alias("cum_before"),
    )
    m = ranked.agg(
        F.sum("n1v").alias("n1"),
        F.sum("n0v").alias("n0"),
        F.sum(
            F.col("n1v") * (2 * F.col("cum_before") + F.col("t") + 1)
        ).alias("r1x2"),
        F.sum(
            F.col("t") * F.col("t") * F.col("t") - F.col("t")
        ).alias("t3t"),
    )
    return m.selectExpr(
        "CAST(n1 AS BIGINT) AS n1",
        "CAST(n0 AS BIGINT) AS n0",
        "CAST(r1x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2",
        "CAST(2 * n1 * n0 - (r1x2 - n1 * (n1 + 1)) AS BIGINT) AS u2_x2",
        "CAST(t3t AS BIGINT) AS tie_t3t",
        "CASE WHEN n1 > 0 AND n0 > 0 AND (n1 + n0) > 1"
        "          AND (CAST(n1 AS DOUBLE) * n0 / 12e0)"
        "              * ((n1 + n0 + 1e0)"
        "                 - CAST(t3t AS DOUBLE)"
        "                   / (CAST(n1 + n0 AS DOUBLE) * (n1 + n0 - 1e0)))"
        "              > 0e0"
        "     THEN CAST(r1x2 - n1 * (n1 + 1) - n1 * n0 AS DOUBLE)"
        "          / (2e0 * sqrt((CAST(n1 AS DOUBLE) * n0 / 12e0)"
        "             * ((n1 + n0 + 1e0)"
        "                - CAST(t3t AS DOUBLE)"
        "                  / (CAST(n1 + n0 AS DOUBLE) * (n1 + n0 - 1e0)))))"
        "     ELSE 0e0 END AS z",
    )


# ---------------------------------------------------------------------------
# dedup token accounting


@query(
    "dedup_token_savings",
    oracle="""
    WITH keyed AS (
        SELECT source, len(string_split(text, ' ')) AS ntok,
               ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM documents WHERE text IS NOT NULL)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT_IF(rn = 1) AS BIGINT) AS n_kept,
           CAST(SUM(ntok) AS BIGINT) AS tok_total,
           CAST(COALESCE(SUM(CASE WHEN rn = 1 THEN ntok END), 0) AS BIGINT)
               AS tok_kept,
           CAST(1000 * (SUM(ntok)
                        - COALESCE(SUM(CASE WHEN rn = 1 THEN ntok END), 0))
                // SUM(ntok) AS BIGINT) AS savings_permille
    FROM keyed GROUP BY source
    """,
    tags=("dedup", "pipeline", "llm-pipeline"),
)
def dedup_token_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget accounting for exact dedup — the number a training
    -data pipeline actually reports upward: per source, how many
    tokens the corpus holds, how many survive keep-first exact dedup,
    and the savings in permille (what dedup buys before any fuzzy
    pass). Keep-first = ROW_NUMBER over the text partition ordered by
    doc_id — NO join against a text dictionary anywhere (the
    dedup_paragraph/ngram_novelty lesson: a corpus-derived text key
    must never be a join build side); the window's partition key is
    corpus-cardinality, so parallelism is intact, and token counts
    ride size(split(·)) per doc row — no explode. int64-safe
    trivially (token totals)."""
    keyed = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(
            "source",
            F.size(F.split("text", " ")).alias("ntok"),
            F.row_number()
            .over(W.partitionBy("text").orderBy("doc_id"))
            .alias("rn"),
        )
    )
    kept = F.sum(F.when(F.col("rn") == 1, F.col("ntok")))
    return keyed.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count_if(F.col("rn") == 1).cast("bigint").alias("n_kept"),
        F.sum("ntok").cast("bigint").alias("tok_total"),
        F.coalesce(kept, F.lit(0)).cast("bigint").alias("tok_kept"),
        F.expr(
            "CAST((1000 * (SUM(ntok)"
            " - COALESCE(SUM(CASE WHEN rn = 1 THEN ntok END), 0)))"
            " div SUM(ntok) AS BIGINT)"
        ).alias("savings_permille"),
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
# Murphy decomposition of the Brier score over calibration bins

#: forecast bins (shared with calibration_bins_exact's NTILE count)
BRIER_BINS = 10


@query(
    "brier_decomposition_exact",
    oracle=f"""
    WITH scored AS (
        SELECT o_orderpriority AS grp,
               NTILE({BRIER_BINS}) OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY o_totalprice, o_orderkey) AS bin,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
        FROM orders),
    bins AS (
        SELECT grp, bin, COUNT(*) AS n, SUM(pos) AS pos
        FROM scored GROUP BY grp, bin),
    tot AS (
        SELECT *, SUM(n) OVER (PARTITION BY grp) AS ng,
               SUM(pos) OVER (PARTITION BY grp) AS posg
        FROM bins)
    SELECT grp, CAST(bin AS BIGINT) AS bin, CAST(n AS BIGINT) AS n,
           CAST(pos AS BIGINT) AS positives,
           CAST(bin * 100 AS BIGINT) AS forecast_permille,
           CAST(1000 * pos // n AS BIGINT) AS rate_permille,
           CAST(CAST(1000000 AS HUGEINT)
                * (bin * n - {BRIER_BINS} * pos) * (bin * n - {BRIER_BINS} * pos)
                // ({BRIER_BINS * BRIER_BINS} * CAST(n AS HUGEINT))
                AS BIGINT) AS rel_contrib_micro,
           CAST(CAST(1000000 AS HUGEINT)
                * (pos * ng - posg * n) * (pos * ng - posg * n)
                // (CAST(n AS HUGEINT) * ng * ng) AS BIGINT)
               AS res_contrib_micro,
           CAST(CAST(1000000 AS HUGEINT) * posg * (ng - posg)
                // (CAST(ng AS HUGEINT) * ng) AS BIGINT) AS unc_grp_micro
    FROM tot
    """,
    tags=("evaluation", "statistics", "ranking"),
)
def brier_decomposition_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy (1973) decomposition of the Brier score over forecast
    bins — Brier = RELIABILITY − RESOLUTION + UNCERTAINTY, the
    diagnosis behind every reliability diagram: is a bad score
    miscalibration (REL), or a forecaster that can't separate
    outcomes (low RES)? Forecast = bin/10 over the same deterministic
    NTILE deciles as ``calibration_bins_exact`` (via the distributed
    :func:`grouped_scan` + closed-form NTILE — no enum-partitioned
    window over raw rows); outcome = order status. Every term is an
    exact integer in micro units via cross-multiplication, per the
    chi2_statistic_exact convention — squared intermediates ride
    decimal(38,0) ↔ HUGEINT, exact through N per group ≈ 10¹⁵ —
    and the identity Σ(rel−res)/N + unc = Brier(binned forecast)
    holds in the consumer's rationals. The group windows run over the
    50-row bin table (aggregate below: plan-audit-exempt)."""
    from watermill_kinesis_spark.functions.distscan import (
        group_sizes_df,
        grouped_scan,
        ntile_closed_form,
    )

    o = load_table(spark, sf_dir, "orders")
    scored = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").alias("score"),
        F.col("o_orderkey").alias("okey"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("pos"),
    )
    ranked, totals = grouped_scan(
        scored, ["grp"], [F.col("score"), F.col("okey")]
    )
    sizes = group_sizes_df(spark, totals, ranked.select("grp").schema)
    binned = ranked.join(F.broadcast(sizes), "grp").select(
        "grp",
        ntile_closed_form(F.col("rn"), F.col("n"), BRIER_BINS).alias("bin"),
        "pos",
    )
    bins = binned.groupBy("grp", "bin").agg(
        F.count(F.lit(1)).alias("n"), F.sum("pos").alias("pos")
    )
    gw = W.partitionBy("grp")
    tot = bins.select(
        "grp",
        "bin",
        "n",
        "pos",
        F.sum("n").over(gw).alias("ng"),
        F.sum("pos").over(gw).alias("posg"),
    )
    return tot.selectExpr(
        "grp",
        "CAST(bin AS BIGINT) AS bin",
        "CAST(n AS BIGINT) AS n",
        "CAST(pos AS BIGINT) AS positives",
        "CAST(bin * 100 AS BIGINT) AS forecast_permille",
        "CAST((1000 * pos) div n AS BIGINT) AS rate_permille",
        "CAST(CAST(1000000 AS DECIMAL(38,0))"
        f" * (bin * n - {BRIER_BINS} * pos) * (bin * n - {BRIER_BINS} * pos)"
        f" div ({BRIER_BINS * BRIER_BINS} * CAST(n AS DECIMAL(38,0)))"
        " AS BIGINT) AS rel_contrib_micro",
        "CAST(CAST(1000000 AS DECIMAL(38,0))"
        " * (pos * ng - posg * n) * (pos * ng - posg * n)"
        " div (CAST(n AS DECIMAL(38,0)) * ng * ng) AS BIGINT)"
        " AS res_contrib_micro",
        "CAST(CAST(1000000 AS DECIMAL(38,0)) * posg * (ng - posg)"
        " div (CAST(ng AS DECIMAL(38,0)) * ng) AS BIGINT)"
        " AS unc_grp_micro",
    )


# ---------------------------------------------------------------------------
# Cramér-von Mises two-sample drift (integral companion of KS / MW)


@query(
    "cramer_von_mises_lengths",
    oracle="""
    WITH vals AS (
        SELECT n_chars AS v, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS g
        FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
    per_v AS (
        SELECT v, COUNT_IF(g = 1) AS av, COUNT_IF(g = 0) AS bv,
               COUNT(*) AS t
        FROM vals GROUP BY v),
    cum AS (
        SELECT *,
               SUM(av) OVER (ORDER BY v) AS ca,
               SUM(bv) OVER (ORDER BY v) AS cb
        FROM per_v),
    m AS (
        SELECT SUM(av) AS n1, SUM(bv) AS n0,
               SUM(t * (CAST(ca * (SELECT SUM(bv) FROM per_v)
                             - cb * (SELECT SUM(av) FROM per_v) AS HUGEINT)
                        * (ca * (SELECT SUM(bv) FROM per_v)
                           - cb * (SELECT SUM(av) FROM per_v)))) AS s
        FROM cum)
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n0 AS BIGINT) AS n0,
           CAST(CAST(1000000 AS HUGEINT) * s
                // (CAST(n1 + n0 AS HUGEINT) * (n1 + n0) * n1 * n0)
                AS BIGINT) AS t_micro
    FROM m
    """,
    tags=("evaluation", "statistics", "drift", "llm-pipeline"),
)
def cramer_von_mises_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér-von Mises statistic on document length,
    English vs everything else — the INTEGRAL drift measure completing
    the two-sample family: KS (``ks_drift_matrix``) reacts to the
    worst single ECDF gap, Mann-Whitney (``mann_whitney_u_lengths``)
    to median shift, CvM to the whole squared ECDF difference — the
    one that catches variance/shape drift a location test misses.
    T = nm/(n+m)²·Σ_pooled (F(x)−G(x))², evaluated per distinct value
    with multiplicities: every term is the cross-multiplied integer
    t_v·(A_v·m − B_v·n)², summed in decimal(38,0) ↔ HUGEINT (the
    squared term passes int64 around n·m ≈ 3·10⁹ — the 100× replica
    already needs 128-bit), and T is reported in exact micro units by
    one 128-bit quotient. Plan: the corpus collapses to |distinct
    n_chars| rows first; cumulative windows run over that bounded
    aggregated table (plan-audit-exempt); one scalar fold."""
    vals = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("n_chars").isNotNull() & F.col("lang").isNotNull())
        .select(
            F.col("n_chars").alias("v"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("g"),
        )
    )
    per_v = vals.groupBy("v").agg(
        F.count_if(F.col("g") == 1).alias("av"),
        F.count_if(F.col("g") == 0).alias("bv"),
        F.count(F.lit(1)).alias("t"),
    )
    cumw = W.orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    totw = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    cum = per_v.select(
        "av",
        "bv",
        "t",
        F.sum("av").over(cumw).alias("ca"),
        F.sum("bv").over(cumw).alias("cb"),
        F.sum("av").over(totw).alias("n1"),
        F.sum("bv").over(totw).alias("n0"),
    )
    m = cum.agg(
        F.max("n1").alias("n1"),
        F.max("n0").alias("n0"),
        F.sum(
            F.expr(
                "t * (CAST(ca * n0 - cb * n1 AS DECIMAL(38,0))"
                "      * (ca * n0 - cb * n1))"
            )
        ).alias("s"),
    )
    return m.selectExpr(
        "CAST(n1 AS BIGINT) AS n1",
        "CAST(n0 AS BIGINT) AS n0",
        "CAST(CAST(1000000 AS DECIMAL(38,0)) * s"
        " div (CAST(n1 + n0 AS DECIMAL(38,0)) * (n1 + n0) * n1 * n0)"
        " AS BIGINT) AS t_micro",
    )


# ---------------------------------------------------------------------------
# Mood's median test across languages


@query(
    "mood_median_test_langs",
    oracle="""
    WITH vals AS (
        SELECT lang, n_chars AS v FROM documents
        WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
    per_v AS (SELECT v, COUNT(*) AS t FROM vals GROUP BY v),
    med AS (
        SELECT MIN(v) AS med FROM (
            SELECT v, SUM(t) OVER (ORDER BY v) AS cum FROM per_v)
        WHERE cum >= ((SELECT COUNT(*) FROM vals) + 1) // 2),
    cells AS (
        SELECT lang,
               COUNT_IF(v > (SELECT med FROM med)) AS above,
               COUNT_IF(v <= (SELECT med FROM med)) AS below
        FROM vals GROUP BY lang),
    m AS (
        SELECT lang, above, below, above + below AS nj,
               SUM(above) OVER () AS ra, SUM(below) OVER () AS rb,
               SUM(above + below) OVER () AS n
        FROM cells),
    longf AS (
        SELECT lang, 'above' AS side, above AS o, ra AS r, nj, n FROM m
        UNION ALL
        SELECT lang, 'below' AS side, below AS o, rb AS r, nj, n FROM m)
    SELECT lang, side, CAST(o AS BIGINT) AS observed,
           CAST(r * nj * 1000 // n AS BIGINT) AS expected_permille,
           CAST(CAST(o * n - r * nj AS HUGEINT) * (o * n - r * nj) * 1000000
                // (CAST(n AS HUGEINT) * r * nj) AS BIGINT)
               AS chi2_contrib_micro
    FROM longf
    """,
    tags=("evaluation", "statistics", "drift"),
)
def mood_median_test_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test of document length across ALL languages —
    the k-group nonparametric screen (Mann-Whitney handles two
    groups): split every length at the EXACT grand lower median
    (rank ⌈N/2⌉, found on the aggregated distinct-value table — the
    quantile_disc integer-rank rule, never float·N), then test the
    above/below × language contingency with the
    ``chi2_statistic_exact`` per-cell convention — observed, the
    independence expectation in permille, and (O·N − r·c)²·10⁶/(N·r·c)
    with squared intermediates in decimal(38,0) ↔ HUGEINT. Output is
    the 2×k cell table; χ² = Σ contribs/10⁶ with k−1 df. Plan: one
    value-table aggregate for the median, one |langs|-sized cell
    aggregate, windows only over those bounded relations."""
    vals = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("n_chars").isNotNull() & F.col("lang").isNotNull())
        .select("lang", F.col("n_chars").alias("v"))
    )
    per_v = vals.groupBy("v").agg(F.count(F.lit(1)).alias("t"))
    cumw = W.orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    totw = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    # the grand total rides a window over the SAME aggregated value
    # table — no separate corpus count() action (review finding: an
    # eager count here ran a full scan job even at plan-build time)
    ranked = per_v.select(
        "v",
        F.sum("t").over(cumw).alias("cum"),
        F.sum("t").over(totw).alias("ntot"),
    )
    med = (
        ranked.where(F.expr("cum >= (ntot + 1) div 2"))
        .agg(F.min("v").alias("med"))
    )
    cells = (
        vals.crossJoin(F.broadcast(med))
        .groupBy("lang")
        .agg(
            F.count_if(F.col("v") > F.col("med")).alias("above"),
            F.count_if(F.col("v") <= F.col("med")).alias("below"),
        )
    )
    tw = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    m = cells.select(
        "lang",
        "above",
        "below",
        (F.col("above") + F.col("below")).alias("nj"),
        F.sum("above").over(tw).alias("ra"),
        F.sum("below").over(tw).alias("rb"),
        F.sum(F.col("above") + F.col("below")).over(tw).alias("n"),
    )
    above = m.selectExpr(
        "lang", "'above' AS side", "above AS o", "ra AS r", "nj", "n"
    )
    below = m.selectExpr(
        "lang", "'below' AS side", "below AS o", "rb AS r", "nj", "n"
    )
    return above.unionByName(below).selectExpr(
        "lang",
        "side",
        "CAST(o AS BIGINT) AS observed",
        "CAST((r * nj * 1000) div n AS BIGINT) AS expected_permille",
        "CAST(CAST(o * n - r * nj AS DECIMAL(38,0)) * (o * n - r * nj)"
        " * 1000000 div (CAST(n AS DECIMAL(38,0)) * r * nj) AS BIGINT)"
        " AS chi2_contrib_micro",
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
# incremental-ingest exact dedup delta

#: the "new batch" is the last fifth of the doc_id ingest range —
#: deterministic, scale-free, and non-degenerate at every SF
INGEST_SPLIT_NUM = 4
INGEST_SPLIT_DEN = 5


@query(
    "ingest_dedup_delta",
    oracle=f"""
    WITH bounds AS (
        SELECT MIN(doc_id) AS lo,
               MIN(doc_id) + (MAX(doc_id) - MIN(doc_id) + 1)
                   * {INGEST_SPLIT_NUM} // {INGEST_SPLIT_DEN} AS cut
        FROM documents),
    hashed AS (
        SELECT doc_id, source, md5(text) AS h,
               len(string_split(text, ' ')) AS ntok,
               doc_id >= (SELECT cut FROM bounds) AS is_new
        FROM documents WHERE text IS NOT NULL),
    old_h AS (SELECT DISTINCT h FROM hashed WHERE NOT is_new),
    newb AS (
        SELECT n.*, o.h IS NOT NULL AS dup_corpus,
               ROW_NUMBER() OVER (PARTITION BY n.h ORDER BY n.doc_id) AS rn
        FROM hashed n LEFT JOIN old_h o USING (h)
        WHERE n.is_new)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_new,
           CAST(COUNT_IF(dup_corpus) AS BIGINT) AS n_dup_corpus,
           CAST(COUNT_IF(NOT dup_corpus AND rn > 1) AS BIGINT)
               AS n_dup_intra,
           CAST(COUNT_IF(NOT dup_corpus AND rn = 1) AS BIGINT) AS n_kept,
           CAST(SUM(ntok) AS BIGINT) AS tok_new,
           CAST(COALESCE(SUM(CASE WHEN NOT dup_corpus AND rn = 1
                                  THEN ntok END), 0) AS BIGINT) AS tok_kept
    FROM newb GROUP BY source
    """,
    tags=("dedup", "pipeline", "llm-pipeline"),
)
def ingest_dedup_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup accounting — the shape a production
    pipeline actually runs (nobody re-dedups 100 TB per crawl): the
    NEW batch (last fifth of the ingest-ordered doc_id range, a
    deterministic stand-in for "this week's crawl") is checked
    against the EXISTING corpus by exact text hash, then within
    itself by keep-first. Per source of the new batch: docs already
    in the corpus, intra-batch duplicates, survivors, and the token
    budget before/after. The corpus probe is a LEFT join against the
    distinct old-hash relation pinned ``merge``: both sides grow with
    the corpus and the build side is a corpus-derived content-hash
    dictionary — never broadcastable (the r9/r10 rule; shuffled-hash
    builds die at AQE's coalesced-partition sizes, the simhash
    lesson). Intra-batch keep-first is a window over the hash
    partition — no dictionary join at all (the dedup_token_savings
    shape). The ingest cut itself is one scalar MIN/MAX aggregate."""
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    bounds = d.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hihi")
    ).selectExpr(
        "lo",
        f"lo + ((hihi - lo + 1) * {INGEST_SPLIT_NUM})"
        f" div {INGEST_SPLIT_DEN} AS cut",
    )
    hashed = d.crossJoin(F.broadcast(bounds)).select(
        "doc_id",
        "source",
        F.md5("text").alias("h"),
        F.size(F.split("text", " ")).alias("ntok"),
        (F.col("doc_id") >= F.col("cut")).alias("is_new"),
    )
    old_h = hashed.where(~F.col("is_new")).select("h").distinct()
    newb = hashed.where("is_new").join(
        old_h.select(F.col("h"), F.lit(True).alias("dup_corpus")).hint(
            "merge"
        ),
        "h",
        "left",
    )
    rn = F.row_number().over(W.partitionBy("h").orderBy("doc_id"))
    newb = newb.select(
        "source",
        "ntok",
        F.coalesce("dup_corpus", F.lit(False)).alias("dup_corpus"),
        rn.alias("rn"),
    )
    kept = ~F.col("dup_corpus") & (F.col("rn") == 1)
    return newb.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_new"),
        F.count_if(F.col("dup_corpus")).cast("bigint").alias("n_dup_corpus"),
        F.count_if(~F.col("dup_corpus") & (F.col("rn") > 1))
        .cast("bigint")
        .alias("n_dup_intra"),
        F.count_if(kept).cast("bigint").alias("n_kept"),
        F.sum("ntok").cast("bigint").alias("tok_new"),
        F.coalesce(F.sum(F.when(kept, F.col("ntok"))), F.lit(0))
        .cast("bigint")
        .alias("tok_kept"),
    )


# ---------------------------------------------------------------------------
# day-of-week uniformity audit (order seasonality screen)


@query(
    "dow_uniformity_audit",
    oracle="""
    WITH d AS (
        SELECT (CAST(o_orderdate AS DATE) - DATE '1970-01-05') % 7 AS dow
        FROM orders WHERE o_orderdate IS NOT NULL),
    cells AS (SELECT dow, COUNT(*) AS o FROM d GROUP BY dow),
    m AS (SELECT *, SUM(o) OVER () AS n FROM cells)
    SELECT CAST(dow AS BIGINT) AS dow, CAST(o AS BIGINT) AS observed,
           CAST(n // 7 AS BIGINT) AS expected_floor,
           CAST(CAST(7 * o - n AS HUGEINT) * (7 * o - n) * 1000000
                // (CAST(7 AS HUGEINT) * n) AS BIGINT)
               AS chi2_contrib_x7_micro
    FROM m
    """,
    tags=("evaluation", "statistics", "events"),
)
def dow_uniformity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week load profile of order dates with an exact χ²
    uniformity audit — the seasonality screen a pipeline runs before
    trusting any time-bucketed metric (a skewed weekday histogram is
    the first symptom of a partial load or a timezone bug). Weekday
    is computed PORTABLY as days-since-a-known-Monday mod 7 (0 =
    Monday): Spark's dayofweek() is 1-based Sunday-first while
    DuckDB's dow is 0-based Sunday-first, so neither engine's builtin
    crosses the oracle — date arithmetic does, exactly. The χ² term
    against the uniform expectation n/7 is kept integer-exact by
    scaling through 7: Σ (O − n/7)²/(n/7) = Σ (7O − n)²/(7n), emitted
    per cell ×10⁶ with 128-bit intermediates (decimal(38,0) ↔
    HUGEINT). One scan, one 7-row aggregate; the marginal windows run
    over the 7-row cell table."""
    d = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate").isNotNull())
        .select(
            (
                F.datediff(F.col("o_orderdate"), F.lit("1970-01-05").cast("date"))
                % 7
            ).alias("dow")
        )
    )
    cells = d.groupBy("dow").agg(F.count(F.lit(1)).alias("o"))
    tw = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    m = cells.select("dow", "o", F.sum("o").over(tw).alias("n"))
    return m.selectExpr(
        "CAST(dow AS BIGINT) AS dow",
        "CAST(o AS BIGINT) AS observed",
        "CAST(n div 7 AS BIGINT) AS expected_floor",
        "CAST(CAST(7 * o - n AS DECIMAL(38,0)) * (7 * o - n) * 1000000"
        " div (CAST(7 AS DECIMAL(38,0)) * n) AS BIGINT)"
        " AS chi2_contrib_x7_micro",
    )
