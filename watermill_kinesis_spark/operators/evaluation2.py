"""Evaluation family, second wave: record-linkage blocking quality,
Cliff's delta ordinal effect size, and Herfindahl–Hirschman corpus
concentration.

These close three audit gaps a large-scale training-data pipeline
hits after the r10 evaluation wave: (1) every scalable dedup run
BLOCKS first (LSH bands, simhash buckets, key prefixes) and needs the
blocking scheme itself scored — pairs completeness (recall of true
duplicate pairs inside blocks) against reduction ratio (fraction of
the quadratic pair space pruned) is the standard trade-off pair of the
record-linkage literature (Christen 2012); (2) the Mann-Whitney wave
tests WHETHER two length distributions differ — Cliff's delta says by
HOW MUCH on a [-1, 1] ordinal scale, robust to the heavy tails that
make mean gaps meaningless on document lengths; (3) domain-mixing ops
(domain_mix_weights etc.) emit per-source shares — the HHI collapses
the whole mixture to one concentration number with a fixed
monopoly-risk interpretation, the audit a data-mixing report leads
with.

Module rules (the evaluation.py discipline): every emitted metric is
an exact integer (micro/permille units via integer division written
token-for-token identically in both engines); squared or product
intermediates that could exceed int64 ride DECIMAL(38,0) ↔ HUGEINT;
pair counts are computed from GROUP SIZES (k·(k−1)/2 arithmetic),
never by materializing pairs — the property that makes each operator
one corpus aggregate plus bounded rollups at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from watermill_kinesis_spark.functions.scope import Scope
from watermill_kinesis_spark.registry import query
from watermill_kinesis_spark.sources.tables import load_table

#: blocking key bucket width for blocking_quality_audit: documents are
#: blocked on (lang, n_chars DIV 64) — the cheap two-attribute scheme
#: a pipeline tries before investing in LSH
BLOCK_CHAR_BUCKET = 64


@query(
    "blocking_quality_audit",
    oracle=f"""
    WITH g AS (
        SELECT md5(text) AS h, lang,
               length(text) // {BLOCK_CHAR_BUCKET} AS bucket,
               CAST(COUNT(*) AS HUGEINT) AS k
        FROM documents GROUP BY 1, 2, 3),
    per_block AS (
        SELECT lang, bucket, SUM(k) AS nb,
               SUM(k * (k - 1) // 2) AS co_blocked
        FROM g GROUP BY lang, bucket),
    per_hash AS (
        SELECT h, SUM(k) AS m FROM g GROUP BY h),
    tot AS (
        SELECT (SELECT SUM(nb) FROM per_block) AS n_docs,
               (SELECT SUM(nb * (nb - 1) // 2) FROM per_block)
                   AS candidate_pairs,
               (SELECT SUM(m * (m - 1) // 2) FROM per_hash) AS true_pairs,
               (SELECT SUM(co_blocked) FROM per_block) AS co_blocked_pairs)
    SELECT CAST(n_docs AS BIGINT) AS n_docs,
           CAST(candidate_pairs AS BIGINT) AS candidate_pairs,
           CAST(true_pairs AS BIGINT) AS true_pairs,
           CAST(co_blocked_pairs AS BIGINT) AS co_blocked_pairs,
           CAST(CASE WHEN true_pairs = 0 THEN 1000000
                     ELSE co_blocked_pairs * 1000000 // true_pairs END
                AS BIGINT) AS pairs_completeness_micro,
           CAST(CASE WHEN n_docs < 2 THEN 1000000
                     ELSE 1000000 - candidate_pairs * 1000000
                                    // (n_docs * (n_docs - 1) // 2) END
                AS BIGINT) AS reduction_ratio_micro
    FROM tot
    """,
    tags=("evaluation", "dedup", "blocking", "llm-pipeline"),
)
def blocking_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage blocking quality (Christen 2012's standard pair):
    block documents on (lang, n_chars DIV {bucket}), define TRUE
    duplicate pairs as same-text pairs (md5 identity — the exact-dup
    ground truth every other dedup op in this engine shares), and
    score the scheme by **pairs completeness** (co-blocked true pairs
    / true pairs — blocking recall; exact-dup pairs always share lang
    and length, so this scheme scores a perfect 1e6 and the metric is
    self-checking) and **reduction ratio** (1 − candidates/C(N,2) —
    how much of the quadratic pair space the blocks prune). This is
    the operator that decides whether a cheap blocking key suffices
    or the corpus needs LSH before pairwise dedup.

    Scale shape: ONE corpus aggregate to the (text-hash, lang, bucket)
    group table; every pair count is k·(k−1)/2 arithmetic over group
    sizes rolled up from it (per-block, per-hash, global) — no pair
    is ever materialized, so the plan is one corpus shuffle plus
    group-table rollups at any scale. The group table persists
    DISK_ONLY (heap-resident caches of corpus-scale relations starved
    the unified pool at 100× — the r11 pagerank lesson) for the scope
    of the call: the two rollups are each one row, so they
    localCheckpoint and the returned plan reads only those bounded
    checkpoints (functions/scope.py). Degenerate corpora (< 2 docs) pin both
    ratios at 10⁶ instead of dividing by zero (non-ANSI Spark would
    NULL where DuckDB errors — a cross-engine divergence). Pair sums
    ride HUGEINT ↔ DECIMAL(38,0) end to end (C(N,2) wraps int64 at
    N ≈ 6.1e9 docs); only the final counts cast to BIGINT, exact
    until the corpus itself holds > 9.2e18 pairs."""
    from pyspark import StorageLevel

    d = load_table(spark, sf_dir, "documents")
    pairs = lambda c: F.expr(f"{c} * ({c} - 1) div 2")  # noqa: E731
    with Scope(spark) as scope:
        g = scope.persisted(
            d.groupBy(
                F.md5("text").alias("h"),
                F.col("lang"),
                F.expr(f"length(text) div {BLOCK_CHAR_BUCKET}").alias("bucket"),
            ).agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("k")),
            StorageLevel.DISK_ONLY,
        )
        per_block = g.groupBy("lang", "bucket").agg(
            F.sum("k").alias("nb"), F.sum(pairs("k")).alias("co")
        )
        per_hash = g.groupBy("h").agg(F.sum("k").alias("m"))
        # materialize the two 1-row rollups (the second job reads g's
        # disk cache)
        tot_block = per_block.agg(
            F.sum("nb").alias("n_docs"),
            F.sum(pairs("nb")).alias("candidate_pairs"),
            F.sum("co").alias("co_blocked_pairs"),
        ).localCheckpoint()
        tot_hash = per_hash.agg(
            F.sum(pairs("m")).alias("true_pairs")
        ).localCheckpoint()
    out = tot_block.crossJoin(F.broadcast(tot_hash)).selectExpr(
        "CAST(n_docs AS BIGINT) AS n_docs",
        "CAST(candidate_pairs AS BIGINT) AS candidate_pairs",
        "CAST(true_pairs AS BIGINT) AS true_pairs",
        "CAST(co_blocked_pairs AS BIGINT) AS co_blocked_pairs",
        "CAST(CASE WHEN true_pairs = 0 THEN 1000000"
        "          ELSE co_blocked_pairs * 1000000 div true_pairs END"
        "     AS BIGINT) AS pairs_completeness_micro",
        "CAST(CASE WHEN n_docs < 2 THEN 1000000"
        "          ELSE 1000000 - candidate_pairs * 1000000"
        "               div (n_docs * (n_docs - 1) div 2) END"
        "     AS BIGINT) AS reduction_ratio_micro",
    )
    return out


@query(
    "cliffs_delta_lengths",
    oracle="""
    WITH v AS (
        SELECT lang, length(text) AS val, CAST(COUNT(*) AS HUGEINT) AS c
        FROM documents GROUP BY 1, 2),
    tot AS (
        SELECT val, SUM(c) AS ct FROM v GROUP BY val),
    tot_prefix AS (
        SELECT val, ct,
               COALESCE(SUM(ct) OVER (ORDER BY val
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS below,
               COALESCE(SUM(ct) OVER (ORDER BY val DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS above
        FROM tot),
    lang_prefix AS (
        SELECT lang, val, c,
               COALESCE(SUM(c) OVER (PARTITION BY lang ORDER BY val
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS lbelow,
               COALESCE(SUM(c) OVER (PARTITION BY lang ORDER BY val DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS labove
        FROM v),
    terms AS (
        SELECT l.lang,
               SUM(l.c) AS m,
               SUM(l.c * (t.below - l.lbelow)) AS gt,
               SUM(l.c * (t.above - l.labove)) AS lt
        FROM lang_prefix l JOIN tot_prefix t ON l.val = t.val
        GROUP BY l.lang),
    n_all AS (SELECT SUM(ct) AS n FROM tot)
    SELECT t.lang,
           CAST(t.m AS BIGINT) AS n_in,
           CAST(a.n - t.m AS BIGINT) AS n_out,
           CAST(t.gt AS BIGINT) AS n_greater,
           CAST(t.lt AS BIGINT) AS n_less,
           CAST((t.gt - t.lt) * 1000000 // (t.m * (a.n - t.m)) AS BIGINT)
               AS cliffs_delta_micro
    FROM terms t CROSS JOIN n_all a
    WHERE a.n - t.m > 0
    """,
    tags=("evaluation", "statistics", "effect-size", "llm-pipeline"),
)
def cliffs_delta_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta ordinal effect size of document length, each
    language vs the rest of the corpus: δ = (#(x>y) − #(x<y))/(m·n)
    over all cross pairs — the non-parametric effect size that
    completes the Mann-Whitney wave (`mann_whitney_u_lengths` tests
    whether distributions differ; δ says by how much, on a [-1, 1]
    scale immune to the heavy tails that make mean-length gaps
    meaningless). |δ| < 0.147 is the conventional "negligible" fence
    (Romano et al. 2006), so this is the op that turns a significant
    U into an actionable "does the mixture actually skew lengths?".

    Exact pair counting WITHOUT pairs: collapse to the (lang, length)
    count table, take per-value prefix sums of the corpus-wide count
    (below/above windows over |distinct lengths| rows) and of each
    language's own counts, then #(x>y) = Σ_v c_lang(v)·(below_all(v)
    − below_lang(v)) — ties contribute to neither side, matching the
    canonical δ. Products ride HUGEINT ↔ DECIMAL(38,0) (m·n wraps
    int64 past ~3e9 docs/side); δ is emitted in exact integer micro
    units. Plan: one corpus aggregate, then windows and a join over
    the value-domain table (|distinct lengths| × |langs| rows —
    bounded at any corpus size)."""
    d = load_table(spark, sf_dir, "documents")
    v = d.groupBy(F.col("lang"), F.length("text").alias("val")).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("c")
    )
    tot = v.groupBy("val").agg(F.sum("c").alias("ct"))
    w_up = W.orderBy("val").rowsBetween(W.unboundedPreceding, -1)
    w_dn = W.orderBy(F.desc("val")).rowsBetween(W.unboundedPreceding, -1)
    tot_prefix = tot.select(
        "val",
        "ct",
        F.coalesce(F.sum("ct").over(w_up), F.lit(0)).alias("below"),
        F.coalesce(F.sum("ct").over(w_dn), F.lit(0)).alias("above"),
    )
    lw_up = W.partitionBy("lang").orderBy("val").rowsBetween(
        W.unboundedPreceding, -1
    )
    lw_dn = W.partitionBy("lang").orderBy(F.desc("val")).rowsBetween(
        W.unboundedPreceding, -1
    )
    lang_prefix = v.select(
        "lang",
        "val",
        "c",
        F.coalesce(F.sum("c").over(lw_up), F.lit(0)).alias("lbelow"),
        F.coalesce(F.sum("c").over(lw_dn), F.lit(0)).alias("labove"),
    )
    terms = (
        lang_prefix.join(F.broadcast(tot_prefix), "val")
        .groupBy("lang")
        .agg(
            F.sum("c").alias("m"),
            F.sum(F.col("c") * (F.col("below") - F.col("lbelow"))).alias(
                "gt"
            ),
            F.sum(F.col("c") * (F.col("above") - F.col("labove"))).alias(
                "lt"
            ),
        )
    )
    n_all = tot.agg(F.sum("ct").alias("n"))
    return (
        terms.crossJoin(F.broadcast(n_all))
        .where(F.expr("n - m > 0"))
        .selectExpr(
            "lang",
            "CAST(m AS BIGINT) AS n_in",
            "CAST(n - m AS BIGINT) AS n_out",
            "CAST(gt AS BIGINT) AS n_greater",
            "CAST(lt AS BIGINT) AS n_less",
            "CAST((gt - lt) * 1000000 div (m * (n - m)) AS BIGINT)"
            " AS cliffs_delta_micro",
        )
    )


@query(
    "herfindahl_concentration",
    oracle="""
    WITH by_source AS (
        SELECT 'source' AS axis, source AS grp, CAST(COUNT(*) AS HUGEINT) AS c
        FROM documents GROUP BY source),
    by_lang AS (
        SELECT 'lang' AS axis, lang AS grp, CAST(COUNT(*) AS HUGEINT) AS c
        FROM documents GROUP BY lang),
    u AS (SELECT * FROM by_source UNION ALL SELECT * FROM by_lang),
    agg AS (
        SELECT axis, COUNT(*) AS k, SUM(c) AS n, SUM(c * c) AS s2
        FROM u GROUP BY axis)
    SELECT axis,
           CAST(k AS BIGINT) AS k_groups,
           CAST(n AS BIGINT) AS n_docs,
           CAST(s2 * 1000000 // (n * n) AS BIGINT) AS hhi_micro,
           CAST(CASE WHEN k = 1 THEN 1000000
                     ELSE (s2 * 1000000 // (n * n) * k - 1000000)
                          // (k - 1) END AS BIGINT)
               AS hhi_normalized_micro
    FROM agg ORDER BY axis
    """,
    tags=("evaluation", "statistics", "mixing", "llm-pipeline"),
)
def herfindahl_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration of the corpus mixture, per
    composition axis (source, lang): HHI = Σ share² — the single
    number a data-mixing report leads with (1/k = perfectly balanced,
    1 = monopoly; antitrust convention calls > 0.25 "highly
    concentrated", which transfers directly to "one domain dominates
    the pretraining mix"). The normalized form HHI* = (HHI − 1/k)/
    (1 − 1/k) removes the group-count floor so axes with different
    cardinalities compare. Complements `domain_mix_weights` (the full
    per-source table) with the scalar audit, and `gini_corpus_
    inequality` (rank-based) with the share-quadratic view.

    Both metrics are exact integer micro units: Σc² rides HUGEINT ↔
    DECIMAL(38,0) (wraps int64 at ~3e9 docs in one group), the micro
    division is integer, and the normalization is integer arithmetic
    on the micro value — written token-for-token identically in both
    engines. Plan: two map-side-combinable aggregates over one scan
    (group counts), a union of two bounded group tables, one scalar
    rollup per axis. Zero joins, bounded output at any scale."""
    d = load_table(spark, sf_dir, "documents")
    cnt = F.count(F.lit(1)).cast("decimal(38,0)").alias("c")
    by_source = d.groupBy(F.col("source").alias("grp")).agg(cnt).select(
        F.lit("source").alias("axis"), "grp", "c"
    )
    by_lang = d.groupBy(F.col("lang").alias("grp")).agg(cnt).select(
        F.lit("lang").alias("axis"), "grp", "c"
    )
    agg = (
        by_source.unionByName(by_lang)
        .groupBy("axis")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum("c").alias("n"),
            F.sum(F.col("c") * F.col("c")).alias("s2"),
        )
    )
    return agg.selectExpr(
        "axis",
        "CAST(k AS BIGINT) AS k_groups",
        "CAST(n AS BIGINT) AS n_docs",
        "CAST(s2 * 1000000 div (n * n) AS BIGINT) AS hhi_micro",
        "CAST(CASE WHEN k = 1 THEN 1000000"
        "          ELSE (s2 * 1000000 div (n * n) * k - 1000000)"
        "               div (k - 1) END AS BIGINT)"
        " AS hhi_normalized_micro",
    ).orderBy("axis")


@query(
    "goodman_kruskal_gamma",
    oracle="""
    WITH ranked AS (
        SELECT CASE substr(o_orderpriority, 1, 1)
                    WHEN '1' THEN 1 WHEN '2' THEN 2 WHEN '3' THEN 3
                    WHEN '4' THEN 4 ELSE 5 END AS x,
               CASE WHEN o_totalprice >= 500000 THEN 5
                    ELSE CAST(FLOOR(o_totalprice / 100000) AS INT) END AS y
        FROM orders),
    cells AS (
        SELECT x, y, CAST(COUNT(*) AS HUGEINT) AS n
        FROM ranked GROUP BY x, y),
    pairs AS (
        SELECT SUM(CASE WHEN b.x > a.x AND b.y > a.y
                        THEN a.n * b.n ELSE 0 END) AS conc,
               SUM(CASE WHEN b.x > a.x AND b.y < a.y
                        THEN a.n * b.n ELSE 0 END) AS disc
        FROM cells a CROSS JOIN cells b)
    SELECT CAST(conc AS BIGINT) AS concordant_pairs,
           CAST(disc AS BIGINT) AS discordant_pairs,
           CAST(CASE WHEN conc + disc = 0 THEN 0
                     ELSE (conc - disc) * 1000000 // (conc + disc) END
                AS BIGINT) AS gamma_micro
    FROM pairs
    """,
    tags=("evaluation", "statistics", "ordinal", "llm-pipeline"),
)
def goodman_kruskal_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman–Kruskal gamma between order PRIORITY (ordinal 1..5 by
    its leading digit) and order VALUE BAND (fixed 100k price bands,
    0..5 — the price domain is a property of the data model, not the
    corpus size, so the banding is scale-independent): γ = (C − D)/
    (C + D) over concordant/discordant pairs, ignoring ties — the
    ordinal association measure that answers "do urgent orders cost
    more?" where χ² (nominal) wastes the ordering and Pearson
    (interval) over-reads rank codes as distances. Completes the
    ordinal kit beside `kendall_tau_exact` (τ includes tie
    corrections; γ is the tie-free ratio, the one reported for
    cross-tabulated ordinal data). A first cut banded by global
    ntile(5) — an exact row-quintile, but its window is a
    SINGLE-PARTITION global sort over the raw corpus, precisely the
    parallelism collapse plan_audit's BadSinglePart! column exists to
    keep out; fixed value bands carry the same ordinal signal with
    ZERO windows.

    Exact pair counting from the bounded JOINT FREQUENCY TABLE (≤5×6
    cells): C and D are Σ n(a)·n(b) over cell pairs with strictly
    agreeing / disagreeing orderings — a bounded cross join at any
    corpus size; no row-level pair is ever formed. ONE
    map-side-combinable corpus aggregate total. Products ride
    HUGEINT ↔ DECIMAL(38,0); γ is integer micro via the shared
    division spelling."""
    o = load_table(spark, sf_dir, "orders")
    x = F.substring("o_orderpriority", 1, 1).cast("int").alias("x")
    y = (
        F.when(F.col("o_totalprice") >= 500000, 5)
        .otherwise(F.expr("CAST(FLOOR(o_totalprice / 100000) AS INT)"))
        .alias("y")
    )
    cells = (
        o.select(x, y)
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("n"))
    )
    a, b = cells.alias("a"), cells.alias("b")
    pairs = a.crossJoin(b).agg(
        F.sum(
            F.when(
                (F.col("b.x") > F.col("a.x")) & (F.col("b.y") > F.col("a.y")),
                F.col("a.n") * F.col("b.n"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("conc"),
        F.sum(
            F.when(
                (F.col("b.x") > F.col("a.x")) & (F.col("b.y") < F.col("a.y")),
                F.col("a.n") * F.col("b.n"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("disc"),
    )
    return pairs.selectExpr(
        "CAST(conc AS BIGINT) AS concordant_pairs",
        "CAST(disc AS BIGINT) AS discordant_pairs",
        "CAST(CASE WHEN conc + disc = 0 THEN 0"
        "          ELSE (conc - disc) * 1000000 div (conc + disc) END"
        "     AS BIGINT) AS gamma_micro",
    )


@query(
    "cramers_v_exact",
    oracle="""
    WITH cells AS (
        SELECT o_orderpriority AS a, o_orderstatus AS b,
               CAST(COUNT(*) AS HUGEINT) AS o
        FROM orders GROUP BY 1, 2),
    m AS (
        SELECT o,
               CAST(SUM(o) OVER (PARTITION BY a) AS HUGEINT) AS r,
               CAST(SUM(o) OVER (PARTITION BY b) AS HUGEINT) AS c,
               CAST(SUM(o) OVER () AS HUGEINT) AS n
        FROM cells),
    agg AS (
        SELECT MAX(n) AS n,
               GREATEST(SUM(o * o * n * 1000000 // (r * c))
                        - MAX(n) * 1000000, 0) AS chi2_micro,
               (SELECT COUNT(DISTINCT a) FROM cells) AS nr,
               (SELECT COUNT(DISTINCT b) FROM cells) AS nc
        FROM m)
    SELECT CAST(n AS BIGINT) AS n_rows,
           CAST(nr AS BIGINT) AS n_levels_a,
           CAST(nc AS BIGINT) AS n_levels_b,
           CAST(chi2_micro AS BIGINT) AS chi2_micro,
           sqrt(CAST(chi2_micro AS DOUBLE)
                / (CAST(n AS DOUBLE)
                   * CAST(CASE WHEN nr < nc THEN nr - 1 ELSE nc - 1 END
                          AS DOUBLE) * 1000000e0)) AS cramers_v
    FROM agg
    """,
    tags=("evaluation", "statistics", "contingency", "llm-pipeline"),
)
def cramers_v_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V for order priority × order status — the [0, 1]
    effect size that `chi2_statistic_exact` (per-cell contributions)
    deliberately stops short of: V = √(χ²/(N·min(r−1, c−1))),
    comparable across tables of any shape, the number a data-mixing
    report quotes for "how strongly is label X entangled with
    source Y". The χ² mass is carried as the exact integer identity
    χ²·10⁶ = N·10⁶·(Σ O²/(r·c) − 1) = Σ O²·N·10⁶/(r·c) − N·10⁶ over
    the OBSERVED cells — the identity form is load-bearing: summing
    per-cell (O−E)²/E over observed cells SKIPS the structural-zero
    cells (whose contribution is r·c/N each), which understated χ²
    whenever the contingency table had empty cells — a perfect 2×2
    association scored V=√½, not 1 (r13 fixture-suite find; the
    shared-author error class the oracle gate is blind to). Under
    the identity, zero cells contribute 0 to Σ O²/(r·c), so the
    observed-cell sum is the FULL-table χ². Everything up to the
    final √ is HUGEINT ↔ DECIMAL(38,0) integer arithmetic (the ≤1
    micro floor loss per cell is clamped at 0 so independence can't
    round to a negative χ²); the lone double is one sqrt of one
    exact ratio written token-for-token identically in both engines. The
    level counts fold into the same single aggregate (the oracle's
    COUNT(DISTINCT …) subselects over the cell table) — no eager
    driver-side jobs, no literals baked into the plan. One corpus
    aggregate to |A×B| cells; windows and the rollup run over the
    bounded cell table."""
    o = load_table(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.col("o_orderpriority").alias("a"), F.col("o_orderstatus").alias("b")
    ).agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("o"))
    r = F.sum("o").over(W.partitionBy("a")).cast("decimal(38,0)")
    c = F.sum("o").over(W.partitionBy("b")).cast("decimal(38,0)")
    n = F.sum("o").over(W.partitionBy()).cast("decimal(38,0)")
    # integer χ²·10⁶ via the full-table identity Σ O²·N·10⁶/(r·c)
    # − N·10⁶: observed cells carry the whole χ² (zero cells add 0
    # to Σ O²/(rc)), so structural zeros need no cross-join
    contrib = cells.select(
        "a",
        "b",
        F.expr("CAST(o AS DECIMAL(38,0)) AS o"),
        r.alias("r"),
        c.alias("c"),
        n.alias("n"),
    ).selectExpr(
        "a",
        "b",
        "n",
        "o * o * n * 1000000 div (r * c) AS term_micro",
    )
    agg = contrib.agg(
        F.max("n").alias("n"),
        F.sum("term_micro").alias("s_micro"),
        F.countDistinct("a").alias("nr"),
        F.countDistinct("b").alias("nc"),
    ).selectExpr(
        "n",
        "greatest(s_micro - n * 1000000, CAST(0 AS DECIMAL(38,0)))"
        " AS chi2_micro",
        "nr",
        "nc",
    )
    return agg.selectExpr(
        "CAST(n AS BIGINT) AS n_rows",
        "CAST(nr AS BIGINT) AS n_levels_a",
        "CAST(nc AS BIGINT) AS n_levels_b",
        "CAST(chi2_micro AS BIGINT) AS chi2_micro",
        "sqrt(CAST(chi2_micro AS DOUBLE)"
        "     / (CAST(n AS DOUBLE)"
        "        * CAST(CASE WHEN nr < nc THEN nr - 1"
        "               ELSE nc - 1 END AS DOUBLE) * 1000000e0))"
        " AS cramers_v",
    )


@query(
    "odds_ratio_returns",
    oracle="""
    WITH cells AS (
        SELECT CASE WHEN month(l_shipdate) <= 6 THEN 1 ELSE 0 END AS h1,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret,
               CAST(COUNT(*) AS HUGEINT) AS n
        FROM lineitem GROUP BY 1, 2),
    t AS (
        SELECT SUM(CASE WHEN h1 = 1 AND ret = 1 THEN n ELSE 0 END) AS a,
               SUM(CASE WHEN h1 = 1 AND ret = 0 THEN n ELSE 0 END) AS b,
               SUM(CASE WHEN h1 = 0 AND ret = 1 THEN n ELSE 0 END) AS c,
               SUM(CASE WHEN h1 = 0 AND ret = 0 THEN n ELSE 0 END) AS d
        FROM cells)
    SELECT CAST(a AS BIGINT) AS h1_returned,
           CAST(b AS BIGINT) AS h1_kept,
           CAST(c AS BIGINT) AS h2_returned,
           CAST(d AS BIGINT) AS h2_kept,
           CAST(CASE WHEN b * c = 0 THEN -1
                     ELSE a * d * 1000000 // (b * c) END AS BIGINT)
               AS odds_ratio_micro,
           CAST(CASE WHEN (a + b) * (c + d) = 0 THEN -1
                     ELSE (a * (c + d) - c * (a + b)) * 1000000
                          // ((a + b) * (c + d)) END AS BIGINT)
               AS risk_diff_micro
    FROM t
    """,
    tags=("evaluation", "statistics", "contingency", "llm-pipeline"),
)
def odds_ratio_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact odds ratio (and risk difference) of line-item RETURN
    between shipping halves of the year — the 2×2 effect size the χ²
    family reports significance for but never magnitude: OR = ad/bc
    answers "how much more likely is a return on an H1 shipment?",
    the epidemiology-standard ratio that transfers directly to A/B
    corpus questions (filter-pass odds by source, contamination odds
    by shard). Both metrics are exact integer micro units — ad and bc
    ride HUGEINT ↔ DECIMAL(38,0) (each ≤ N², wraps int64 past
    N ≈ 3e9 rows/cell), division is the shared integer spelling, and
    degenerate margins pin −1 (undefined, distinct from a true 0).
    ONE map-side-combinable aggregate over the scan; the 2×2 fold is
    scalar. Zero joins, zero windows."""
    li = load_table(spark, sf_dir, "lineitem")
    h1 = F.when(F.month("l_shipdate") <= 6, 1).otherwise(0)
    ret = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    cells = li.select(h1.alias("h1"), ret.alias("ret")).agg(
        F.sum(F.when((F.col("h1") == 1) & (F.col("ret") == 1), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("a"),
        F.sum(F.when((F.col("h1") == 1) & (F.col("ret") == 0), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("b"),
        F.sum(F.when((F.col("h1") == 0) & (F.col("ret") == 1), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("c"),
        F.sum(F.when((F.col("h1") == 0) & (F.col("ret") == 0), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("d"),
    )
    return cells.selectExpr(
        "CAST(a AS BIGINT) AS h1_returned",
        "CAST(b AS BIGINT) AS h1_kept",
        "CAST(c AS BIGINT) AS h2_returned",
        "CAST(d AS BIGINT) AS h2_kept",
        "CAST(CASE WHEN b * c = 0 THEN -1"
        "          ELSE a * d * 1000000 div (b * c) END AS BIGINT)"
        " AS odds_ratio_micro",
        "CAST(CASE WHEN (a + b) * (c + d) = 0 THEN -1"
        "          ELSE (a * (c + d) - c * (a + b)) * 1000000"
        "               div ((a + b) * (c + d)) END AS BIGINT)"
        " AS risk_diff_micro",
    )
