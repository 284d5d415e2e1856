"""Pipeline wave 9 (round 10): the k-group and dispersion legs of the
nonparametric drift suite. With these the corpus-distribution toolkit
is the full classical set: location 2-group (Mann-Whitney), location
k-group omnibus (Kruskal-Wallis, here), median k-group (Mood),
dispersion 2-group (Ansari-Bradley, here), variance k-group
(Brown-Forsythe/Levene, here), and whole-distribution (KS matrix,
Cramér-von Mises).

The reference has no relational surface at all (SURVEY.md §2-B);
these are Layer-B LLM-corpus operators extending the driver's north
star. Cross-engine determinism discipline (pipeline6/7/8): exact
bigint counts and midrank ×2 scaling everywhere; squared
intermediates that exceed int64 ride DECIMAL(38,0) ↔ HUGEINT with
TRUNCATING integer division (Spark ``div`` / DuckDB ``//``). Three
rules this module adds to that discipline, learned the hard way:

1. **Spark's ``div`` ALWAYS lands in BIGINT** — even on DECIMAL(38,0)
   operands — and a quotient past int64 silently WRAPS (verified:
   ``CAST(1e20 AS DECIMAL(38,0)) div 3`` → a negative long, no error,
   even under ANSI). Every ``div`` below is therefore sized so its
   TRUE quotient fits int64 at the documented corpus bound, and the
   two unbounded-ratio statistics (Levene W, tie-corrected H) clamp
   at the shared ∞ sentinel 10¹⁵ via a DECIMAL-domain comparison
   BEFORE dividing (``num > 10¹⁵·den`` is exact in both engines).
2. **Sums of ``div`` outputs re-enter DECIMAL(38,0) immediately** —
   the per-row quotient fits a long, but Σ over rows may not; DuckDB
   sums HUGEINT natively, Spark needs the explicit cast.
3. **No negative numerator ever meets a division** — the engines
   disagree on negative integer division (truncate-toward-zero vs
   floor); subtractions that could graze below zero are clamped by a
   shared CASE, and signed deviations are emitted as (sign,
   magnitude) pairs.

No float crosses the compare anywhere in this module — statistics
are emitted in exact micro (×10⁶) units.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from watermill_kinesis_spark.registry import query
from watermill_kinesis_spark.sources.tables import load_table


#: shared ∞ sentinel for ratio statistics whose denominator can be
#: made arbitrarily small by (pathological but constructible) data:
#: 10¹⁵ micro-units = 10⁹ in natural units, far above any meaningful
#: test statistic, and small enough that the clamped quotient always
#: fits int64
STAT_CLAMP = 10**15


# ---------------------------------------------------------------------------
# Kruskal-Wallis H: k-group rank omnibus over document lengths


@query(
    "kruskal_wallis_lengths",
    oracle=f"""
    WITH vals AS (
        SELECT lang, n_chars AS v FROM documents
        WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
    g1 AS (SELECT v, lang, COUNT(*) AS n_gv FROM vals GROUP BY 1, 2),
    vt AS (SELECT v, SUM(n_gv) AS t FROM g1 GROUP BY v),
    vtc AS (
        SELECT v, t,
               COALESCE(SUM(t) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cb
        FROM vt),
    per_lang AS (
        SELECT g1.lang,
               SUM(g1.n_gv) AS n,
               SUM(g1.n_gv * (2 * vtc.cb + vtc.t + 1)) AS r2
        FROM g1 JOIN vtc ON g1.v = vtc.v
        GROUP BY g1.lang),
    ties AS (SELECT SUM(t * t * t - t) AS t3t FROM vt),
    m AS (
        SELECT lang, n, r2,
               SUM(n) OVER () AS ntot,
               COUNT(*) OVER () AS k,
               SUM(CAST(r2 AS HUGEINT) * r2 // (4 * n)) OVER () AS s,
               (SELECT t3t FROM ties) AS t3t
        FROM per_lang),
    h AS (
        SELECT lang, n, r2, ntot, k, t3t,
               CAST(s AS HUGEINT) * 12000000
                   // (CAST(ntot AS HUGEINT) * (ntot + 1))
                   - 3 * (ntot + 1) * 1000000 AS h_x1e6
        FROM m)
    SELECT lang,
           CAST(n AS BIGINT) AS n,
           CAST(r2 AS BIGINT) AS rank_sum_x2,
           CAST(r2 // n AS BIGINT) AS mean_rank_x2,
           CAST(k AS BIGINT) AS k_groups,
           CAST(ntot AS BIGINT) AS n_total,
           CAST(t3t AS BIGINT) AS tie_t3t,
           CAST(h_x1e6 AS BIGINT) AS h_x1e6,
           CAST(CASE WHEN h_x1e6 <= 0
                          OR CAST(ntot AS HUGEINT) * ntot * ntot - ntot - t3t
                             <= 0 THEN 0
                     WHEN CAST(h_x1e6 AS HUGEINT)
                          * (CAST(ntot AS HUGEINT) * ntot * ntot - ntot)
                          > {STAT_CLAMP}
                            * (CAST(ntot AS HUGEINT) * ntot * ntot - ntot
                               - t3t)
                     THEN {STAT_CLAMP}
                     ELSE CAST(h_x1e6 AS HUGEINT)
                          * (CAST(ntot AS HUGEINT) * ntot * ntot - ntot)
                          // (CAST(ntot AS HUGEINT) * ntot * ntot - ntot
                              - t3t) END AS BIGINT) AS h_tie_x1e6
    FROM h ORDER BY lang
    """,
    tags=("evaluation", "statistics", "drift", "llm-pipeline"),
)
def kruskal_wallis_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test of document length across ALL languages —
    the k-group omnibus that answers "is ANY language's length
    distribution shifted?" before pairwise Mann-Whitney tells you
    which (the standard rank-ANOVA screen; Mood's median test is its
    blunter sibling already in the suite). Midranks stay integral by
    the ×2 trick (2·midrank = 2·count-below + t + 1, the Mann-Whitney
    convention), so each language's rank sum ×2 is an EXACT bigint.
    H = 12/(N(N+1))·ΣR²ᵍ/nᵍ − 3(N+1) needs R²ᵍ — up to 4N⁴, past
    int64 — so the per-group contribution r2²/(4n) rides
    DECIMAL(38,0) ↔ HUGEINT with truncating division at UNIT scale
    (its quotient n·N² must itself fit int64 — Spark's div lands in
    bigint even from decimal operands; micro-scaling here would wrap
    at the 100× replica), and H picks up its ×10⁶ in the follow-up
    division, whose quotient is only O(N·10⁶). The ≤k-unit truncation
    of ΣR²/n perturbs H by < 10⁻⁴ micro-units at any corpus size —
    identical on both engines. The tie correction divides by
    C = 1 − Σ(t³−t)/(N³−N): non-negative by the shared CASE guard
    (the all-tied corner pins 0) and clamped at the 10¹⁵ sentinel by
    a decimal-domain comparison before the division, so the
    two-distinct-values corner (tiny C) can never wrap.

    Plan: the corpus collapses to the per-(value, lang) aggregate
    FIRST (≤ |distinct lengths|·k rows — bounded by the physical
    document length cap, NOT corpus size, so the value table and its
    rank window stay constant-sized at 100 TB); the cumulative window
    runs over the |values| relation (plan-audit exemption: aggregate
    below); per-language moments are one k-row aggregate and the
    scalars ride unbounded windows over those k rows. Bounds: the
    unit-scale contribution quotient n·N² ≤ int64 needs N ≲ 3·10⁶
    docs — 6× past the 100× replica; beyond that, shift the
    contribution to ÷2⁶ fixed-point."""
    vals = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("n_chars").isNotNull() & F.col("lang").isNotNull())
        .select("lang", F.col("n_chars").alias("v"))
    )
    g1 = vals.groupBy("v", "lang").agg(F.count(F.lit(1)).alias("n_gv"))
    vt = g1.groupBy("v").agg(F.sum("n_gv").alias("t"))
    cum = W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    vtc = vt.select(
        "v", "t", F.coalesce(F.sum("t").over(cum), F.lit(0)).alias("cb")
    )
    # broadcast is sound here: |vtc| = |distinct n_chars| is bounded
    # by the document length cap (a data-model constant), not by the
    # corpus — NOT the grams/tokens/fingerprints dictionary class
    per_lang = (
        g1.join(F.broadcast(vtc), "v")
        .groupBy("lang")
        .agg(
            F.sum("n_gv").alias("n"),
            F.sum(
                F.col("n_gv") * (2 * F.col("cb") + F.col("t") + 1)
            ).alias("r2"),
        )
    )
    ties = vt.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("t3t")
    )
    tw = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    m = per_lang.crossJoin(F.broadcast(ties)).select(
        "lang",
        "n",
        "r2",
        "t3t",
        F.sum("n").over(tw).alias("ntot"),
        F.count(F.lit(1)).over(tw).alias("k"),
        F.sum(
            F.expr(
                "CAST(CAST(r2 AS DECIMAL(38,0)) * r2 div (4 * n)"
                " AS DECIMAL(38,0))"
            )
        )
        .over(tw)
        .alias("s"),
    )
    h = m.selectExpr(
        "lang",
        "n",
        "r2",
        "ntot",
        "k",
        "t3t",
        "CAST(s AS DECIMAL(38,0)) * 12000000"
        " div (CAST(ntot AS DECIMAL(38,0)) * (ntot + 1))"
        " - 3 * (ntot + 1) * 1000000 AS h_x1e6",
    )
    return h.selectExpr(
        "lang",
        "CAST(n AS BIGINT) AS n",
        "CAST(r2 AS BIGINT) AS rank_sum_x2",
        "CAST(r2 div n AS BIGINT) AS mean_rank_x2",
        "CAST(k AS BIGINT) AS k_groups",
        "CAST(ntot AS BIGINT) AS n_total",
        "CAST(t3t AS BIGINT) AS tie_t3t",
        "CAST(h_x1e6 AS BIGINT) AS h_x1e6",
        "CAST(CASE WHEN h_x1e6 <= 0"
        "               OR CAST(ntot AS DECIMAL(38,0)) * ntot * ntot - ntot"
        "                  - t3t <= 0 THEN 0"
        f"          WHEN CAST(h_x1e6 AS DECIMAL(38,0))"
        "               * (CAST(ntot AS DECIMAL(38,0)) * ntot * ntot - ntot)"
        f"               > {STAT_CLAMP}"
        "                 * (CAST(ntot AS DECIMAL(38,0)) * ntot * ntot"
        "                    - ntot - t3t)"
        f"          THEN {STAT_CLAMP}"
        "          ELSE CAST(h_x1e6 AS DECIMAL(38,0))"
        "               * (CAST(ntot AS DECIMAL(38,0)) * ntot * ntot - ntot)"
        "               div (CAST(ntot AS DECIMAL(38,0)) * ntot * ntot"
        "                    - ntot - t3t) END AS BIGINT) AS h_tie_x1e6",
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# Brown-Forsythe (median-centered Levene): variance homogeneity


@query(
    "levene_brown_forsythe",
    oracle=f"""
    WITH vals AS (
        SELECT source, n_chars AS v FROM documents
        WHERE n_chars IS NOT NULL AND source IS NOT NULL),
    sv AS (SELECT source, v, COUNT(*) AS c FROM vals GROUP BY 1, 2),
    svc AS (
        SELECT source, v, c,
               SUM(c) OVER (PARTITION BY source ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum,
               SUM(c) OVER (PARTITION BY source) AS n
        FROM sv),
    med AS (
        SELECT source,
               MIN(CASE WHEN cum >= (n + 1) // 2 THEN v END)
               + MIN(CASE WHEN cum >= n // 2 + 1 THEN v END) AS m2
        FROM svc GROUP BY source),
    z AS (
        SELECT vals.source, abs(2 * vals.v - med.m2) AS z2
        FROM vals JOIN med ON vals.source = med.source),
    per_src AS (
        SELECT source, COUNT(*) AS n, SUM(z2) AS s, SUM(z2 * z2) AS q
        FROM z GROUP BY source),
    m AS (
        SELECT source, n, s, q,
               SUM(n) OVER () AS ntot,
               COUNT(*) OVER () AS k,
               SUM(s) OVER () AS stot,
               SUM(q) OVER () AS qtot,
               SUM(CAST(s AS HUGEINT) * s * 1000000 // n) OVER () AS a
        FROM per_src),
    w AS (
        SELECT source, n, s, q, ntot, k,
               a - CAST(stot AS HUGEINT) * stot * 1000000 // ntot AS num,
               CAST(qtot AS HUGEINT) * 1000000 - a AS den
        FROM m)
    SELECT source,
           CAST(n AS BIGINT) AS n,
           CAST(s AS BIGINT) AS absdev_sum_x2,
           CAST(q AS BIGINT) AS absdev_sumsq_x4,
           CAST(k AS BIGINT) AS k_groups,
           CAST(ntot AS BIGINT) AS n_total,
           CAST(CASE WHEN num <= 0 OR den <= 0 OR k < 2 THEN 0
                     WHEN CAST(ntot - k AS HUGEINT) * num * 1000000
                          > {STAT_CLAMP} * (CAST(k AS HUGEINT) - 1) * den
                     THEN {STAT_CLAMP}
                     ELSE CAST(ntot - k AS HUGEINT) * num * 1000000
                          // ((CAST(k AS HUGEINT) - 1) * den)
                     END AS BIGINT) AS w_x1e6
    FROM w ORDER BY source
    """,
    tags=("evaluation", "statistics", "drift", "llm-pipeline"),
)
def levene_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test (median-centered Levene) of length-variance
    homogeneity across sources — the heteroscedasticity screen that
    catches a source whose documents are erratically sized even when
    its MEAN length matches the rest (location tests are blind to
    this; it is the standard ANOVA assumption check, and in a corpus
    pipeline it flags scrape instability per source). Deviations are
    taken from the per-source MEDIAN (the Brown-Forsythe robustness
    choice) and kept integral by the ×2 trick: 2·median of integers
    is v_lo + v_hi at the two middle ranks, found on the per-source
    aggregated value table with the quantile_disc integer-rank rule
    (never float·N); z = |2x − 2m| is then an exact bigint per row,
    so every group moment (Σz, Σz²) is exact.
    W = ((N−k)/(k−1)) · Σnᵍ(z̄ᵍ−z̄)² / ΣΣ(z−z̄ᵍ)² expands to pure
    sums-of-squares algebra over those moments; the squared sums ride
    DECIMAL(38,0) ↔ HUGEINT truncating division in micro units. Both
    the between (num) and within (den) sums are clamped at 0 by a
    shared CASE (mathematically ≥ 0; truncation can graze below), and
    the final ratio — genuinely unbounded when all variance sits
    between groups — clamps at the 10¹⁵ sentinel via a decimal-domain
    comparison BEFORE dividing, so Spark's bigint-landing div can
    never wrap.

    Plan: per-(source, value) aggregate first (bounded by |sources| ×
    length cap, constant at scale); medians from per-source windows
    over that bounded relation; ONE broadcast join of the |sources|-
    row median table back to the corpus scan (a bounded enum
    dictionary, not the corpus-derived gram/token class); per-source
    moments are one map-side-combinable aggregate and the scalars
    ride unbounded windows over k rows. Bounds: the per-group
    quotient s²·10⁶/n ≤ n·(2·len_cap)²·10⁶ fits int64 to N ≈ 4·10⁶
    docs at the 600-char cap; past that, drop the contribution to
    unit scale (the Kruskal-Wallis pattern)."""
    vals = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("n_chars").isNotNull() & F.col("source").isNotNull())
        .select("source", F.col("n_chars").alias("v"))
    )
    sv = vals.groupBy("source", "v").agg(F.count(F.lit(1)).alias("c"))
    cum = (
        W.partitionBy("source")
        .orderBy("v")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    tot = W.partitionBy("source")
    svc = sv.select(
        "source",
        "v",
        F.sum("c").over(cum).alias("cum"),
        F.sum("c").over(tot).alias("n"),
    )
    med = svc.groupBy("source").agg(
        (
            F.min(F.when(F.expr("cum >= (n + 1) div 2"), F.col("v")))
            + F.min(F.when(F.expr("cum >= n div 2 + 1"), F.col("v")))
        ).alias("m2")
    )
    z = vals.join(F.broadcast(med), "source").select(
        "source", F.abs(2 * F.col("v") - F.col("m2")).alias("z2")
    )
    per_src = z.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("z2").alias("s"),
        F.sum(F.col("z2") * F.col("z2")).alias("q"),
    )
    tw = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    m = per_src.select(
        "source",
        "n",
        "s",
        "q",
        F.sum("n").over(tw).alias("ntot"),
        F.count(F.lit(1)).over(tw).alias("k"),
        F.sum("s").over(tw).alias("stot"),
        F.sum("q").over(tw).alias("qtot"),
        F.sum(
            F.expr(
                "CAST(CAST(s AS DECIMAL(38,0)) * s * 1000000 div n"
                " AS DECIMAL(38,0))"
            )
        )
        .over(tw)
        .alias("a"),
    )
    w = m.selectExpr(
        "source",
        "n",
        "s",
        "q",
        "ntot",
        "k",
        "a - CAST(stot AS DECIMAL(38,0)) * stot * 1000000 div ntot AS num",
        "CAST(qtot AS DECIMAL(38,0)) * 1000000 - a AS den",
    )
    return w.selectExpr(
        "source",
        "CAST(n AS BIGINT) AS n",
        "CAST(s AS BIGINT) AS absdev_sum_x2",
        "CAST(q AS BIGINT) AS absdev_sumsq_x4",
        "CAST(k AS BIGINT) AS k_groups",
        "CAST(ntot AS BIGINT) AS n_total",
        "CAST(CASE WHEN num <= 0 OR den <= 0 OR k < 2 THEN 0"
        "          WHEN CAST(ntot - k AS DECIMAL(38,0)) * num * 1000000"
        f"              > {STAT_CLAMP}"
        "                 * (CAST(k AS DECIMAL(38,0)) - 1) * den"
        f"          THEN {STAT_CLAMP}"
        "          ELSE CAST(ntot - k AS DECIMAL(38,0)) * num * 1000000"
        "               div ((CAST(k AS DECIMAL(38,0)) - 1) * den)"
        "          END AS BIGINT) AS w_x1e6",
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Ansari-Bradley: 2-group dispersion (scale) test


@query(
    "ansari_bradley_dispersion",
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
                   AS cb,
               SUM(t) OVER () AS n
        FROM per_v),
    spans AS (
        SELECT n1v, n0v, t, n,
               cb + 1 AS a, cb + t AS b, (n + 1) // 2 AS tau
        FROM ranked),
    scored AS (
        SELECT n1v, n0v, t, n,
               (CASE WHEN a <= least(b, tau)
                     THEN (a + least(b, tau)) * (least(b, tau) - a + 1)
                     ELSE 0 END)
               + (CASE WHEN greatest(a, tau + 1) <= b
                       THEN 2 * (n + 1) * (b - greatest(a, tau + 1) + 1)
                            - (greatest(a, tau + 1) + b)
                              * (b - greatest(a, tau + 1) + 1)
                       ELSE 0 END) AS rs2
        FROM spans),
    m AS (
        SELECT SUM(n1v) AS n1, SUM(n0v) AS n0, MAX(n) AS n,
               SUM(CAST(n1v AS HUGEINT) * rs2 * 1000000 // (2 * t)) AS ab
        FROM scored),
    e AS (
        SELECT n1, n0, ab,
               CASE WHEN n % 2 = 0
                    THEN CAST(n1 AS HUGEINT) * (n + 2) * 1000000 // 4
                    ELSE CAST(n1 AS HUGEINT) * (n + 1) * (n + 1)
                         * 1000000 // (4 * n) END AS e
        FROM m)
    SELECT CAST(n1 AS BIGINT) AS n1,
           CAST(n0 AS BIGINT) AS n0,
           CAST(ab AS BIGINT) AS ab_x1e6,
           CAST(e AS BIGINT) AS ab_expected_x1e6,
           CAST(CASE WHEN ab >= e THEN 1 ELSE -1 END AS BIGINT) AS dev_sign,
           CAST(1000 * abs(ab - e) // greatest(e, 1) AS BIGINT)
               AS abs_dev_permille
    FROM e
    """,
    tags=("evaluation", "statistics", "drift", "llm-pipeline"),
)
def ansari_bradley_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ansari-Bradley test of length DISPERSION, English vs the rest —
    the rank test Mann-Whitney cannot replace: AB scores ranks from
    BOTH ends (score(r) = min(r, N+1−r)), so two groups with the same
    median but different spread separate here and nowhere else in the
    location family. Completes the nonparametric suite's scale axis.

    Exactness: ranks never materialize per row. On the aggregated
    value table, a tied value occupies the contiguous rank span
    [cb+1, cb+t], and Σ min(r, N+1−r) over a span has a CLOSED FORM —
    two arithmetic series split at τ = ⌊(N+1)/2⌋ — kept integral by
    the ×2 trick (rs2 = 2·span score sum). The tied docs share the
    midscore rs2/(2t), so group 1's statistic AB = Σ n1v·rs2/(2t)
    rides one DECIMAL(38,0) ↔ HUGEINT truncating division per value
    row in micro units (quotient ≤ n1v·N·10⁶ — int64-safe to the
    100× replica and ~10× beyond; the Σ re-enters decimal
    immediately, rule 2 of the module discipline). The null
    expectation E[AB] — n1(N+2)/4 for even N, n1(N+1)²/(4N) for odd —
    is exact in the same units, and the deviation is emitted as
    (sign, permille magnitude) because a signed numerator must never
    meet the engines' divergent negative integer division.

    Plan: the corpus collapses to the |distinct lengths| value table
    first (bounded by the length cap, constant at 100 TB); the rank
    window runs over that bounded relation (aggregate-below
    exemption) and the statistic is one scalar aggregate."""
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
    tw = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    ranked = per_v.select(
        "n1v",
        "n0v",
        "t",
        F.coalesce(F.sum("t").over(cum), F.lit(0)).alias("cb"),
        F.sum("t").over(tw).alias("n"),
    )
    spans = ranked.selectExpr(
        "n1v",
        "n0v",
        "t",
        "n",
        "cb + 1 AS a",
        "cb + t AS b",
        "(n + 1) div 2 AS tau",
    )
    scored = spans.selectExpr(
        "n1v",
        "n0v",
        "t",
        "n",
        "(CASE WHEN a <= least(b, tau)"
        "      THEN (a + least(b, tau)) * (least(b, tau) - a + 1)"
        "      ELSE 0 END)"
        " + (CASE WHEN greatest(a, tau + 1) <= b"
        "         THEN 2 * (n + 1) * (b - greatest(a, tau + 1) + 1)"
        "              - (greatest(a, tau + 1) + b)"
        "                * (b - greatest(a, tau + 1) + 1)"
        "         ELSE 0 END) AS rs2",
    )
    m = scored.agg(
        F.sum("n1v").alias("n1"),
        F.sum("n0v").alias("n0"),
        F.max("n").alias("n"),
        F.sum(
            F.expr(
                "CAST(CAST(n1v AS DECIMAL(38,0)) * rs2 * 1000000"
                " div (2 * t) AS DECIMAL(38,0))"
            )
        ).alias("ab"),
    )
    e = m.selectExpr(
        "n1",
        "n0",
        "ab",
        "CASE WHEN n % 2 = 0"
        "     THEN CAST(n1 AS DECIMAL(38,0)) * (n + 2) * 1000000 div 4"
        "     ELSE CAST(n1 AS DECIMAL(38,0)) * (n + 1) * (n + 1)"
        "          * 1000000 div (4 * n) END AS e",
    )
    return e.selectExpr(
        "CAST(n1 AS BIGINT) AS n1",
        "CAST(n0 AS BIGINT) AS n0",
        "CAST(ab AS BIGINT) AS ab_x1e6",
        "CAST(e AS BIGINT) AS ab_expected_x1e6",
        "CAST(CASE WHEN ab >= e THEN 1 ELSE -1 END AS BIGINT) AS dev_sign",
        "CAST(1000 * abs(ab - e) div greatest(e, 1) AS BIGINT)"
        " AS abs_dev_permille",
    )


# ---------------------------------------------------------------------------
# Cochran-Armitage trend: ordered groups × binary outcome


@query(
    "cochran_armitage_trend",
    oracle="""
    WITH base AS (
        SELECT CAST(substring(o.o_orderpriority, 1, 1) AS INTEGER) AS w,
               CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    per_class AS (
        SELECT w, COUNT(*) AS n, SUM(ret) AS r FROM base GROUP BY w),
    m AS (
        SELECT w, n, r,
               SUM(n) OVER () AS ntot,
               SUM(r) OVER () AS rtot,
               SUM(w * n) OVER () AS swn,
               SUM(w * r) OVER () AS swr,
               SUM(w * w * n) OVER () AS sw2n
        FROM per_class),
    s AS (
        SELECT w, n, r, ntot,
               CAST(ntot AS HUGEINT) * swr
                   - CAST(rtot AS HUGEINT) * swn AS a,
               CAST(rtot AS HUGEINT) * (ntot - rtot)
                   * (CAST(ntot AS HUGEINT) * sw2n
                      - CAST(swn AS HUGEINT) * swn) AS b
        FROM m)
    SELECT CAST(w AS BIGINT) AS priority_class,
           CAST(n AS BIGINT) AS n,
           CAST(r AS BIGINT) AS n_returned,
           CAST(1000 * r // n AS BIGINT) AS return_permille,
           CAST(ntot AS BIGINT) AS n_total,
           CAST(a AS BIGINT) AS trend_numer_xn,
           CASE WHEN b <= 0 THEN 0e0
                ELSE CAST(a AS DOUBLE) * sqrt(CAST(ntot AS DOUBLE))
                     / sqrt(CAST(b AS DOUBLE)) END AS z
    FROM s ORDER BY priority_class
    """,
    tags=("evaluation", "statistics", "contingency", "llm-pipeline"),
)
def cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test: does the lineitem RETURN rate move
    monotonically with order priority? The contingency family's
    ordered-alternative member — χ² (``chi2_statistic_exact``,
    ``mood_median_test_langs``) treats the k classes as unordered and
    wastes power when the alternative is a dose-response trend; CA
    scores each class with its ordinal weight (the leading digit of
    ``o_orderpriority``) and tests the weighted slope. All moments
    (N, R, Σwn, Σwr, Σw²n) are exact bigints from ONE aggregate;
    clearing denominators gives z = A·√N/√B with A = N·Σwr − R·Σwn
    (exact, possibly negative — it is never fed to integer division)
    and B = R(N−R)(N·Σw²n − (Σwn)²) ≥ 0 exact in DECIMAL(38,0) ↔
    HUGEINT. z is ONE shared double expression whose only
    transcendental is sqrt (IEEE correctly-rounded, the Mann-Whitney
    precedent), so it hash-compares bit-exactly; zero variance (one
    class, or R ∈ {0, N}) pins z = 0 via the shared CASE.

    Plan: the lineitem⋈orders join is the engine's bread-and-butter
    co-keyed big join (the q-series shape — shuffle on orderkey,
    AQE-planned); everything after is a 5-row aggregate with
    unbounded windows over those 5 rows. Bounds: B ≤ 25·N⁴ needs
    N ≲ 10⁸ rows for DECIMAL(38,0) — two decades past the 100×
    replica's lineitem."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("ret"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.substring("o_orderpriority", 1, 1).cast("int").alias("w"),
    )
    per_class = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("ret").alias("r"))
    )
    tw = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    m = per_class.select(
        "w",
        "n",
        "r",
        F.sum("n").over(tw).alias("ntot"),
        F.sum("r").over(tw).alias("rtot"),
        F.sum(F.col("w") * F.col("n")).over(tw).alias("swn"),
        F.sum(F.col("w") * F.col("r")).over(tw).alias("swr"),
        F.sum(F.col("w") * F.col("w") * F.col("n")).over(tw).alias("sw2n"),
    )
    s = m.selectExpr(
        "w",
        "n",
        "r",
        "ntot",
        "CAST(ntot AS DECIMAL(38,0)) * swr"
        " - CAST(rtot AS DECIMAL(38,0)) * swn AS a",
        "CAST(rtot AS DECIMAL(38,0)) * (ntot - rtot)"
        " * (CAST(ntot AS DECIMAL(38,0)) * sw2n"
        "    - CAST(swn AS DECIMAL(38,0)) * swn) AS b",
    )
    return s.selectExpr(
        "CAST(w AS BIGINT) AS priority_class",
        "CAST(n AS BIGINT) AS n",
        "CAST(r AS BIGINT) AS n_returned",
        "CAST(1000 * r div n AS BIGINT) AS return_permille",
        "CAST(ntot AS BIGINT) AS n_total",
        "CAST(a AS BIGINT) AS trend_numer_xn",
        "CASE WHEN b <= 0 THEN 0e0"
        "     ELSE CAST(a AS DOUBLE) * sqrt(CAST(ntot AS DOUBLE))"
        "          / sqrt(CAST(b AS DOUBLE)) END AS z",
    ).orderBy("priority_class")


# ---------------------------------------------------------------------------
# McNemar paired test: per-customer return behavior, H1 vs H2


@query(
    "mcnemar_paired_returns",
    oracle="""
    WITH order_ret AS (
        SELECT l_orderkey, MAX(CASE WHEN l_returnflag = 'R' THEN 1
                                    ELSE 0 END) AS ret
        FROM lineitem GROUP BY l_orderkey),
    per_cust AS (
        SELECT o.o_custkey,
               MAX(CASE WHEN month(o.o_orderdate) <= 6
                        THEN COALESCE(r.ret, 0) ELSE 0 END) AS h1,
               MAX(CASE WHEN month(o.o_orderdate) > 6
                        THEN COALESCE(r.ret, 0) ELSE 0 END) AS h2
        FROM orders o LEFT JOIN order_ret r ON o.o_orderkey = r.l_orderkey
        GROUP BY o.o_custkey),
    cells AS (
        SELECT COUNT(*) AS n_pairs,
               COUNT_IF(h1 = 1 AND h2 = 1) AS both_ret,
               COUNT_IF(h1 = 1 AND h2 = 0) AS b,
               COUNT_IF(h1 = 0 AND h2 = 1) AS c,
               COUNT_IF(h1 = 0 AND h2 = 0) AS neither
        FROM per_cust)
    SELECT CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(both_ret AS BIGINT) AS both_ret,
           CAST(b AS BIGINT) AS h1_only,
           CAST(c AS BIGINT) AS h2_only,
           CAST(neither AS BIGINT) AS neither,
           CAST(CASE WHEN b + c = 0 THEN 0
                     ELSE CAST(b - c AS HUGEINT) * (b - c) * 1000000
                          // (b + c) END
                AS BIGINT) AS mcnemar_x2_micro,
           CAST(CASE WHEN b + c = 0 OR abs(b - c) < 1 THEN 0
                     ELSE CAST(abs(b - c) - 1 AS HUGEINT)
                          * (abs(b - c) - 1) * 1000000
                          // (b + c) END AS BIGINT)
               AS mcnemar_x2_corrected_micro
    FROM cells
    """,
    tags=("evaluation", "statistics", "contingency", "llm-pipeline"),
)
def mcnemar_paired_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test of PAIRED binary outcomes: per customer, "had a
    returned item in Jan–Jun" vs "had one in Jul–Dec" — the
    within-subject design the independence-assuming χ² family cannot
    touch (each customer is their own control; only the b/c
    discordant cells carry information). The statistic
    (b−c)²/(b+c) and its Edwards continuity correction
    (|b−c|−1)²/(b+c) are pure integer arithmetic in micro units —
    squared numerators are non-negative by construction, so the
    truncating division is divergence-safe, and the squared
    intermediate rides DECIMAL(38,0) ↔ HUGEINT (module rule 2: at
    |b−c| ≳ 3.04e6 discordant customers, (b−c)²·10⁶ would wrap a
    plain BIGINT silently in non-ANSI Spark while DuckDB errors — a
    cross-engine divergence, unreachable at certified scales but now
    impossible by construction) — and the full 2×2 cell census is
    emitted alongside so the statistic is auditable.

    Plan: per-order return flags from one map-side-combinable
    lineitem aggregate; orders LEFT-join that relation on the
    orderkey (co-keyed, the q-series shape; lineitem-less orders
    count as no-return rather than dropping a pair); ONE per-customer
    aggregate folds both halves simultaneously (a customer inactive
    in a half pins that half's flag 0 — the pair population is every
    ordering customer, stated explicitly rather than silently
    dropping single-half customers); the cells are one scalar
    aggregate. No window over raw rows anywhere."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("ret0"),
    )
    order_ret = li.groupBy("l_orderkey").agg(F.max("ret0").alias("ret"))
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.month("o_orderdate").alias("mo")
    )
    per_cust = (
        o.join(order_ret, o.o_orderkey == order_ret.l_orderkey, "left")
        .groupBy("o_custkey")
        .agg(
            F.max(
                F.when(F.col("mo") <= 6, F.coalesce("ret", F.lit(0)))
                .otherwise(0)
            ).alias("h1"),
            F.max(
                F.when(F.col("mo") > 6, F.coalesce("ret", F.lit(0)))
                .otherwise(0)
            ).alias("h2"),
        )
    )
    cells = per_cust.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.count_if((F.col("h1") == 1) & (F.col("h2") == 1)).alias("both_ret"),
        F.count_if((F.col("h1") == 1) & (F.col("h2") == 0)).alias("b"),
        F.count_if((F.col("h1") == 0) & (F.col("h2") == 1)).alias("c"),
        F.count_if((F.col("h1") == 0) & (F.col("h2") == 0)).alias("neither"),
    )
    return cells.selectExpr(
        "CAST(n_pairs AS BIGINT) AS n_pairs",
        "CAST(both_ret AS BIGINT) AS both_ret",
        "CAST(b AS BIGINT) AS h1_only",
        "CAST(c AS BIGINT) AS h2_only",
        "CAST(neither AS BIGINT) AS neither",
        "CAST(CASE WHEN b + c = 0 THEN 0"
        "          ELSE CAST(b - c AS DECIMAL(38,0)) * (b - c) * 1000000"
        "               div (b + c) END"
        "     AS BIGINT) AS mcnemar_x2_micro",
        "CAST(CASE WHEN b + c = 0 OR abs(b - c) < 1 THEN 0"
        "          ELSE CAST(abs(b - c) - 1 AS DECIMAL(38,0))"
        "               * (abs(b - c) - 1) * 1000000"
        "               div (b + c) END AS BIGINT)"
        " AS mcnemar_x2_corrected_micro",
    )
