"""Model/data evaluation metrics and statistical tests — the measurement
half of a training pipeline: ranking quality (exact AUC), distribution
drift (exact Kolmogorov–Smirnov matrix, Cramér–von Mises), corpus
inequality (exact Gini), contingency tables and the chi-square
statistic, correlation matrices, probability calibration bins and the
Brier decomposition, deterministic k-fold assignment, content
addressing, a closed-form regression fit from distributed sums, trend
and change-point tests over time series, two-sample and k-sample
tests (Welch, Mann-Whitney, Kruskal-Wallis, Levene, Ansari-Bradley,
Mood, McNemar, Cochran-Armitage), robust statistics (MAD, winsorized
mean, IQR fences), Benford and day-of-week screens, A/B readouts,
survival (Kaplan-Meier), and the audits a dedup/mixing pipeline
reports: record-linkage blocking quality (pairs completeness against
reduction ratio, Christen 2012), Cliff's delta ordinal effect size,
and Herfindahl–Hirschman concentration.

Every metric that reaches the oracle hash is INTEGER arithmetic
(permille / micro scaling with integer division), so Spark and DuckDB
agree bit-for-bit with no float-accumulation-order hazard — the same
determinism discipline as frequency.py. Integer
division is SQL ``div`` on Spark and ``//`` in the oracle — BOTH
truncate toward zero (verified on negatives: −7÷2 → −3 on each), so
signed quotients like a below-chance kappa are exact and identical;
only Python's flooring ``//`` differs, which the brute-force tests
account for. Wide intermediates go through decimal(38,0) on Spark and
HUGEINT in the oracle, both exact to 10^38. Pair counts come from
GROUP SIZES (k·(k−1)/2 arithmetic), never from materialized pairs, so
each pair metric is one corpus aggregate plus bounded rollups.

100 TB posture: rank metrics over ENUM report groups (AUC,
calibration, gains, Spearman, runs test) never partition a window by
the enum over raw rows — a 5-value group axis means ~5 tasks each
sorting N/5 rows. They rank through :mod:`distscan`'s distributed
decomposition instead (range-partitioned slices → local windows →
broadcast offsets; bit-identical to the single-window plan, so the
oracle SQL keeps its window form). Windows partitioned by a
DATA-scaled key (source, user) or running over PRE-AGGREGATED
bounded rows stay as windows. KS quantizes scores to a fixed bounded
grid IN-PLAN and aggregates to per-(pair, bin) cells before its
cumulative window; chi2 / linreg reduce the corpus to a handful of
exact sums in one map-side-combinable aggregate. ``collect()`` sites
are bounded model artifacts only: the event-type enum for pair
formation, and distscan's n_slices × |groups| offset rows.

Reference parity note: the reference engine (a Go Kinesis Pub/Sub
connector) has no analytics surface; this family belongs to the
driver-mandated LLM-pipeline layer (SURVEY.md §2-C "beyond-reference
operators").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from watermill_kinesis_spark.functions.distscan import (
    N_SLICES,
    grouped_order_stats,
    grouped_scan,
    group_sizes_df,
    ntile_closed_form,
    range_slices,
)
from watermill_kinesis_spark.functions.exact import lcents
from watermill_kinesis_spark.functions.localrel import local_relation
from watermill_kinesis_spark.functions.scope import Scope
from watermill_kinesis_spark.registry import query
from watermill_kinesis_spark.sources.tables import load_table

#: folds for the deterministic k-fold split
KFOLD_K = 5
#: Knuth multiplicative hash constant (public domain, TAOCP §6.4)
KFOLD_MULT = 2654435761
#: calibration report: deciles within each priority class
CALIB_BINS = 10


def _auc_slice_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-collect stage of :func:`auc_roc_exact`: ONE range shuffle on
    (group, score) and a per-slice Arrow kernel that folds each
    slice's ordered tie cells into (Σc, Σnpos, doubled-rank partial) —
    the bounded ``n_slices × |groups|`` artifact the driver fold
    consumes. Factored out so the DISTRIBUTED shape stays auditable:
    the registered fn collects this relation, so PLANS.md's row for
    auc_roc_exact sees only the post-fold local relation —
    ``tests/test_plans.py`` pins this stage's plan (range exchange +
    MapInPandas, no red flags) instead.

    The kernel folds batch-by-batch with a carry cell across Arrow
    batch boundaries (a tie cell or group may straddle batches), so
    per-task memory is O(arrow-batch + |groups in slice|) — NOT
    O(slice): the replaced pd.concat form materialized N/n_slices rows
    per Python worker, a scale regression vs the spillable window sort
    it replaced. Sums ride unbounded Python ints."""
    o = load_table(spark, sf_dir, "orders")
    scored = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").alias("score"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("pos"),
    )
    parted = (
        scored.repartitionByRange(N_SLICES, F.col("grp"), F.col("score"))
        .sortWithinPartitions("grp", "score")
        .withColumn("pid", F.spark_partition_id())
    )

    def _slice_partials(batches):
        import pandas as pd

        pid = None
        # grp -> [sum_c, sum_npos, s2] as unbounded Python ints
        acc: dict = {}
        # the most recent cell, withheld until the NEXT cell proves it
        # complete — a (grp, score) cell may straddle arrow batches
        carry = None

        def fold(g, c, npos):
            cur = acc.setdefault(g, [0, 0, 0])
            # rank of the cell = rows already folded in its group + 1;
            # per-cell doubled-rank term: npos·(2·cum_c − c + 1)
            cur[2] += npos * (2 * (cur[0] + c) - c + 1)
            cur[0] += c
            cur[1] += npos

        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pid is None:
                pid = int(pdf["pid"].iloc[0])
            # dropna=False: a NULL key must surface (the driver fold
            # fail-louds on it), never silently lose its rows
            cells = (
                pdf.groupby(["grp", "score"], sort=False, dropna=False)
                .agg(c=("pos", "size"), npos=("pos", "sum"))
                .reset_index()
            )
            for g, s, c, npos in zip(
                cells["grp"], cells["score"], cells["c"], cells["npos"]
            ):
                c, npos = int(c), int(npos)
                if carry is not None:
                    if carry[0] == g and carry[1] == s:
                        c += carry[2]
                        npos += carry[3]
                    else:
                        fold(carry[0], carry[2], carry[3])
                carry = (g, s, c, npos)
        if carry is not None:
            fold(carry[0], carry[2], carry[3])
        if pid is None:
            return
        yield pd.DataFrame(
            [
                (pid, g, t[0], t[1], str(t[2]))
                for g, t in acc.items()
            ],
            columns=["pid", "grp", "sum_c", "sum_npos", "s2_local"],
        )

    return parted.mapInPandas(
        _slice_partials,
        "pid int, grp string, sum_c long, sum_npos long, s2_local string",
    )


@query(
    "auc_roc_exact",
    oracle="""
    WITH scored AS (
        SELECT o_orderpriority AS grp,
               o_totalprice AS score,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
        FROM orders),
    ranked AS (
        SELECT grp, pos,
               RANK() OVER (PARTITION BY grp ORDER BY score) AS r,
               COUNT(*) OVER (PARTITION BY grp, score) AS c
        FROM scored),
    agg AS (
        SELECT grp,
               CAST(SUM(pos) AS HUGEINT) AS n_pos,
               CAST(SUM(1 - pos) AS HUGEINT) AS n_neg,
               CAST(SUM(CASE WHEN pos = 1 THEN 2 * r + c - 1 ELSE 0 END)
                    AS HUGEINT) AS s2
        FROM ranked GROUP BY grp)
    SELECT grp,
           CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n_neg AS BIGINT) AS n_neg,
           CAST((s2 - n_pos * (n_pos + 1)) * 1000
                // (2 * n_pos * n_neg) AS BIGINT) AS auc_permille
    FROM agg
    WHERE n_pos > 0 AND n_neg > 0
    """,
    tags=("evaluation", "statistics", "ranking"),
)
def auc_roc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-corrected ROC-AUC per report group, as integer
    permille: does ``o_totalprice`` rank finished orders above open
    ones within each priority class? AUC is computed by the
    Mann–Whitney identity AUC = (Σ_pos r̄ − n₊(n₊+1)/2)/(n₊·n₋) with
    ties at half credit; doubling average ranks (2r̄ = 2·rank + ties −
    1) keeps every term integral, so the permille is exact integer
    division on both engines. Scale shape (round-8 fusion, VERDICT r7
    #3): ONE range shuffle on (group, score) — ties stay whole inside
    a slice because the range key carries no tiebreak — then a single
    per-slice Arrow kernel (:func:`_auc_slice_stats`, batch-streamed
    with a boundary carry, O(arrow-batch) worker memory) folds each
    slice into (Σc, Σnpos, local doubled-rank partial): the bounded
    ``n_slices × |groups|`` model artifact of the distscan pattern,
    collected once. The driver lifts local partials to global ones
    with the running per-group row offsets (RANK() of a cell = rows
    strictly below + 1, so the per-cell term npos·(2·cum_c − c + 1)
    gains exactly 2·npos·C_off when a slice starts C_off rows into its
    group) and finishes the permille in arbitrary-precision Python
    integers — exact at any scale, and NEVER a window partitioned by
    the 5-value priority enum over raw rows, which would sort N/5
    rows in one task at 100 TB. One exchange, two stages, no
    checkpoint, no per-row global ranks (the r7 grouped_scan form was
    correct but paid three exchanges plus an offsets checkpoint —
    2.19× the r6 window's time at sf0.1; this kernel returns the
    constant factor while keeping per-task work bounded by the
    slice). Skew note: a single massive tie cell lands in one slice —
    acceptable for a near-continuous score axis; a seam-patched
    split-tie variant is the escape hatch if a discrete score axis
    ever routes here. The scalable shape of sklearn's
    ``roc_auc_score`` for grouped-report evaluation."""
    stats = _auc_slice_stats(spark, sf_dir).collect()
    # driver fold over the bounded artifact: ascending pid = ascending
    # (grp, score) ranges, so a running per-group row offset lifts each
    # slice's doubled-rank partial to the global value
    acc: dict = {}
    for row in sorted(stats, key=lambda r: r["pid"]):
        g = row["grp"]
        if g is None:
            # mirror grouped_scan's fail-loudly rule: a NULL group key
            # would need null-safe bookkeeping the window form kept
            raise ValueError("auc_roc_exact requires non-null group keys")
        cur = acc.setdefault(g, {"n": 0, "npos": 0, "s2": 0})
        cur["s2"] += int(row["s2_local"]) + 2 * int(row["sum_npos"]) * cur["n"]
        cur["n"] += int(row["sum_c"])
        cur["npos"] += int(row["sum_npos"])
    out = []
    for g, t in sorted(acc.items()):
        n_pos, n_neg = t["npos"], t["n"] - t["npos"]
        if n_pos == 0 or n_neg == 0:
            # degenerate groups (all-positive / all-negative) have no
            # ranking to score: drop them on BOTH engines rather than
            # divide by zero (the oracle filters identically)
            continue
        u2 = t["s2"] - n_pos * (n_pos + 1)
        # exact truncating quotient: all terms are non-negative ints,
        # so Python // matches SQL div and DuckDB // bit-for-bit
        out.append((g, n_pos, n_neg, (u2 * 1000) // (2 * n_pos * n_neg)))
    return local_relation(spark,
        out,
        StructType(
            [
                StructField("grp", StringType(), False),
                StructField("n_pos", LongType(), False),
                StructField("n_neg", LongType(), False),
                StructField("auc_permille", LongType(), False),
            ]
        ),
    )


#: KS quantization grid: scores land in KS_BINS fixed cells of width
#: 1/KS_SCALE, clamped at the top — the IN-PLAN bound on the cumulative
#: window's input cardinality (cells per pair ≤ KS_BINS at ANY corpus
#: size, continuous scores included)
KS_BINS = 4096
KS_SCALE = 4


@query(
    "ks_drift_matrix",
    oracle=f"""
    WITH vals AS (
        SELECT event_type AS t,
               LEAST({KS_BINS - 1},
                     GREATEST(0, CAST(FLOOR(value * {KS_SCALE}) AS BIGINT)))
                   AS v,
               COUNT(*) AS c
        FROM events GROUP BY 1, 2),
    types AS (SELECT DISTINCT event_type AS t FROM events),
    pairs AS (
        SELECT a.t AS t1, b.t AS t2 FROM types a JOIN types b ON a.t < b.t),
    tot AS (SELECT t, CAST(SUM(c) AS BIGINT) AS n FROM vals GROUP BY t),
    cells AS (
        SELECT p.t1, p.t2, v.v,
               SUM(CASE WHEN v.t = p.t1 THEN v.c ELSE 0 END) AS c1,
               SUM(CASE WHEN v.t = p.t2 THEN v.c ELSE 0 END) AS c2
        FROM pairs p JOIN vals v ON v.t = p.t1 OR v.t = p.t2
        GROUP BY p.t1, p.t2, v.v),
    cum AS (
        SELECT t1, t2, v,
               SUM(c1) OVER (PARTITION BY t1, t2 ORDER BY v) AS cum1,
               SUM(c2) OVER (PARTITION BY t1, t2 ORDER BY v) AS cum2
        FROM cells)
    SELECT c.t1, c.t2, ta.n AS n1, tb.n AS n2,
           CAST(MAX(ABS(CAST(cum1 AS HUGEINT) * tb.n
                        - CAST(cum2 AS HUGEINT) * ta.n)) AS BIGINT)
               AS d_scaled,
           CAST(MAX(ABS(CAST(cum1 AS HUGEINT) * tb.n
                        - CAST(cum2 AS HUGEINT) * ta.n)) * 1000
                // (CAST(ta.n AS HUGEINT) * tb.n) AS BIGINT) AS ks_permille
    FROM cum c JOIN tot ta ON ta.t = c.t1 JOIN tot tb ON tb.t = c.t2
    GROUP BY c.t1, c.t2, ta.n, tb.n
    """,
    tags=("evaluation", "statistics", "drift"),
)
def ks_drift_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov distance between the
    quantized ``value`` distributions of every pair of event types —
    the distribution-drift screen a data pipeline runs between corpus
    snapshots or train/serve populations. Integer-exact: with counts
    c₁,c₂ cumulated over the merged bin axis, D = max|F₁−F₂| =
    max|cum1·n₂ − cum2·n₁| / (n₁·n₂), so d_scaled and the permille
    are pure integer arithmetic. Scale shape: scores are quantized
    IN-PLAN to the fixed KS_BINS-cell grid (floor(value·KS_SCALE),
    clamped — mirrored exactly in the oracle, so the quantization is
    part of the operator's contract, not a docstring plea), then one
    corpus-wide aggregate down to ≤ |types|·KS_BINS cells, pair
    expansion via two broadcast equi-joins against the 10-row pair
    enum (never a non-equi join), and the cumulative window runs per
    PAIR over the grid-bounded cells — ≤ KS_BINS rows per pair at ANY
    corpus size, continuous scores included (KS on the quantized
    distribution lower-bounds true KS within one cell's CDF mass)."""
    ev = load_table(spark, sf_dir, "events")
    v_bin = F.least(
        F.lit(KS_BINS - 1),
        F.greatest(
            F.lit(0), F.floor(F.col("value") * KS_SCALE).cast("bigint")
        ),
    )
    vals = ev.groupBy(
        F.col("event_type").alias("t"), v_bin.alias("v")
    ).agg(F.count(F.lit(1)).alias("c"))
    # the event-type enum is bounded (it is a code, not data): collect
    # to build the pair list driver-side, then broadcast
    types = sorted(r.t for r in vals.select("t").distinct().collect())
    pairs = local_relation(spark,
        [(a, b) for i, a in enumerate(types) for b in types[i + 1 :]],
        "t1 string, t2 string",
    )
    e1 = F.broadcast(pairs).join(vals, pairs.t1 == vals.t).select(
        "t1", "t2", "v", F.col("c").alias("c1"), F.lit(0).alias("c2")
    )
    e2 = F.broadcast(pairs).join(vals, pairs.t2 == vals.t).select(
        "t1", "t2", "v", F.lit(0).alias("c1"), F.col("c").alias("c2")
    )
    cells = (
        e1.unionByName(e2)
        .groupBy("t1", "t2", "v")
        .agg(F.sum("c1").alias("c1"), F.sum("c2").alias("c2"))
    )
    w = W.partitionBy("t1", "t2").orderBy("v")
    cum = cells.select(
        "t1",
        "t2",
        F.sum("c1").over(w).alias("cum1"),
        F.sum("c2").over(w).alias("cum2"),
    )
    tot = vals.groupBy("t").agg(F.sum("c").cast("bigint").alias("n"))
    ta = tot.select(F.col("t").alias("t1"), F.col("n").alias("n1"))
    tb = tot.select(F.col("t").alias("t2"), F.col("n").alias("n2"))
    # cum·n reaches n1·n2 — past int64 at ~3·10⁹ rows per side, where
    # Spark would wrap silently: keep the product in decimal(38,0)
    # (the module's wide-intermediate rule), mirroring the HUGEINT cast
    # in the oracle
    d = F.max(
        F.abs(
            F.col("cum1").cast("decimal(38,0)") * F.col("n2")
            - F.col("cum2").cast("decimal(38,0)") * F.col("n1")
        )
    )
    return (
        cum.join(F.broadcast(ta), "t1")
        .join(F.broadcast(tb), "t2")
        .groupBy("t1", "t2", "n1", "n2")
        .agg(d.cast("decimal(38,0)").alias("d_max"))
        .selectExpr(
            "t1",
            "t2",
            "n1",
            "n2",
            "CAST(d_max AS BIGINT) AS d_scaled",
            "CAST((d_max * 1000) div (CAST(n1 AS DECIMAL(38,0)) * n2) "
            "AS BIGINT) AS ks_permille",
        )
    )


@query(
    "gini_corpus_inequality",
    oracle="""
    WITH ranked AS (
        SELECT source, n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY n_chars, doc_id) AS i
        FROM documents),
    agg AS (
        SELECT source,
               CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(n_chars) AS HUGEINT) AS s,
               CAST(SUM(CAST(i AS HUGEINT) * n_chars) AS HUGEINT) AS si
        FROM ranked GROUP BY source)
    SELECT source, CAST(n AS BIGINT) AS n_docs,
           CAST(s AS BIGINT) AS total_chars,
           CAST((2 * si - (n + 1) * s) * 1000 // (n * s) AS BIGINT)
               AS gini_permille
    FROM agg
    WHERE s > 0
    """,
    tags=("evaluation", "statistics", "corpus-balance"),
)
def gini_corpus_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of document sizes per source — the
    corpus-balance inequality audit (a source where a few giant docs
    hold most of the tokens trains differently from an even one).
    G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over ascending-sorted sizes:
    the numerator is non-negative by the Chebyshev sum inequality, so
    integer permille division is exact and engine-identical. The rank
    window is partitioned by source (the report group), wide sums ride
    decimal(38,0)/HUGEINT."""
    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = d.select(
        "source", "n_chars", F.row_number().over(w).alias("i")
    )
    agg = ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("n_chars").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("i").cast("decimal(19,0)") * F.col("n_chars"))
        .cast("decimal(38,0)")
        .alias("si"),
    )
    # a source whose docs are all zero-length has no inequality to
    # measure: drop it identically on both engines (div-by-zero guard)
    agg = agg.where(F.col("s") > 0)
    num = F.lit(2) * F.col("si") - (F.col("n") + 1) * F.col("s")
    return agg.select(
        "source",
        F.col("n").cast("bigint").alias("n_docs"),
        F.col("s").cast("bigint").alias("total_chars"),
        (num * 1000).alias("num"),
        (F.col("n") * F.col("s")).alias("den"),
    ).selectExpr(
        "source",
        "n_docs",
        "total_chars",
        "CAST(num div den AS BIGINT) AS gini_permille",
    )


@query(
    "chi2_statistic_exact",
    oracle="""
    WITH cells AS (
        SELECT event_type AS a, user_id % 3 AS b, COUNT(*) AS o
        FROM events GROUP BY 1, 2),
    m AS (
        SELECT a, b, CAST(o AS HUGEINT) AS o,
               CAST(SUM(o) OVER (PARTITION BY a) AS HUGEINT) AS r,
               CAST(SUM(o) OVER (PARTITION BY b) AS HUGEINT) AS c,
               CAST(SUM(o) OVER () AS HUGEINT) AS n
        FROM cells)
    SELECT a, CAST(b AS BIGINT) AS b, CAST(o AS BIGINT) AS observed,
           CAST(r * c * 1000 // n AS BIGINT) AS expected_permille,
           CAST((o * n - r * c) * (o * n - r * c) * 1000000
                // (n * r * c) AS BIGINT) AS chi2_contrib_micro
    FROM m
    """,
    tags=("evaluation", "statistics"),
)
def chi2_statistic_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell chi-square contributions for event type × (user_id
    mod 3) — the 'one further aggregation' ``crosstab_expected``'s
    docstring promises, kept integer-exact: each cell reports O, the
    independence expectation r·c/N as permille, and (O·N − r·c)²/
    (N·r·c) — algebraically (O − E)²/E, the plain χ² term, scaled to
    micro units — so the statistic is Σ contrib / 10⁶ with no float
    anywhere. One
    corpus aggregate to |A×B| cells; marginal windows run over that
    tiny cell table. Squared intermediates (≤ N⁴) ride decimal(38,0)/
    HUGEINT, exact through N ≈ 3·10⁹ rows; beyond that, pre-scale
    counts (the statistic is scale-invariant)."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.col("event_type").alias("a"),
        (F.col("user_id") % 3).alias("b"),
    ).agg(F.count(F.lit(1)).alias("o"))
    o = F.col("o").cast("decimal(38,0)")
    r = F.sum("o").over(W.partitionBy("a")).cast("decimal(38,0)")
    c = F.sum("o").over(W.partitionBy("b")).cast("decimal(38,0)")
    n = F.sum("o").over(W.partitionBy()).cast("decimal(38,0)")
    dev = o * n - r * c
    return cells.select(
        "a",
        F.col("b").cast("bigint").alias("b"),
        F.col("o").cast("bigint").alias("observed"),
        (r * c * 1000).alias("exp_num"),
        n.alias("n_tot"),
        (dev * dev).alias("dev2"),
        (n * r * c).alias("nrc"),
    ).selectExpr(
        "a",
        "b",
        "observed",
        "CAST(exp_num div n_tot AS BIGINT) AS expected_permille",
        "CAST((dev2 * 1000000) div nrc AS BIGINT) AS chi2_contrib_micro",
    )


@query(
    "calibration_bins_exact",
    oracle=f"""
    WITH scored AS (
        SELECT o_orderpriority AS grp,
               NTILE({CALIB_BINS}) OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY o_totalprice, o_orderkey) AS bin,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
        FROM orders)
    SELECT grp, CAST(bin AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(pos) AS BIGINT) AS positives,
           CAST(SUM(pos) * 1000 // COUNT(*) AS BIGINT) AS rate_permille
    FROM scored GROUP BY grp, bin
    """,
    tags=("evaluation", "statistics", "ranking"),
)
def calibration_bins_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score-calibration table: within each priority class, decile
    buckets of ``o_totalprice`` (NTILE over a deterministic
    (score, key) order — identical bucketing on both engines) with the
    exact positive rate per bucket in permille. The reliability-diagram
    input for any score column. The NTILE is computed WITHOUT an
    enum-partitioned window: global per-group row numbers come from
    the distributed :func:`grouped_scan`, group sizes ride a
    broadcast |groups|-row relation, and :func:`ntile_closed_form`
    reproduces NTILE's tile widths (first n%b tiles one row wider)
    in exact integer arithmetic — bit-identical to the oracle's
    window NTILE, but every task handles a range slice, not a whole
    priority class."""
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
    scored = ranked.join(F.broadcast(sizes), "grp").select(
        "grp",
        ntile_closed_form(F.col("rn"), F.col("n"), CALIB_BINS).alias("bin"),
        "pos",
    )
    return (
        scored.groupBy("grp", F.col("bin").cast("bigint").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("pos").cast("bigint").alias("positives"),
        )
        .selectExpr(
            "grp",
            "bin",
            "n",
            "positives",
            "CAST((positives * 1000) div n AS BIGINT) AS rate_permille",
        )
    )


@query(
    "kfold_assign_balance",
    oracle=f"""
    WITH folds AS (
        SELECT lang,
               ((doc_id % 1000003) * {KFOLD_MULT}) % 2147483647
                   % {KFOLD_K} AS fold
        FROM documents)
    SELECT CAST(fold AS BIGINT) AS fold, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM folds GROUP BY fold, lang
    """,
    tags=("evaluation", "sampling", "llm-pipeline"),
)
def kfold_assign_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold cross-validation assignment with a class-
    balance audit: fold = knuth_hash(doc_id) mod k via pure integer
    arithmetic (no engine RNG, no engine hash — the SAME expression
    runs on both engines), reported as fold × lang counts so skewed
    folds are visible before any training run. The id is pre-reduced
    mod 1000003 to keep the multiply inside int64 on every engine.
    Embarrassingly parallel: one map + one small aggregate."""
    d = load_table(spark, sf_dir, "documents")
    fold = (
        ((F.col("doc_id") % 1000003) * F.lit(KFOLD_MULT)) % 2147483647
    ) % KFOLD_K
    return (
        d.select(fold.cast("bigint").alias("fold"), "lang")
        .groupBy("fold", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "content_addressed_ids",
    oracle="""
    WITH hashed AS (
        SELECT doc_id, md5(text) AS content_hash FROM documents),
    canon AS (
        SELECT content_hash, MIN(doc_id) AS canonical_id,
               COUNT(*) AS n_copies
        FROM hashed GROUP BY content_hash)
    SELECT h.doc_id, h.content_hash, c.canonical_id,
           CAST(c.n_copies AS BIGINT) AS n_copies
    FROM hashed h JOIN canon c USING (content_hash)
    """,
    tags=("evaluation", "dedup", "llm-pipeline"),
)
def content_addressed_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content addressing: every document keyed by md5(text) — the
    standard content-addressed store / CAS id a dataset pipeline uses
    for provenance, resumable ingestion, and exact dedup across
    snapshots (both engines emit identical lowercase-hex md5 over the
    UTF-8 bytes). Each doc row carries its group's canonical id
    (min doc_id) and copy count — the hash-keyed shuffle is 16 B/row,
    the same exact-dedup scale shape as ``dedup_exact_hashkey``."""
    d = load_table(spark, sf_dir, "documents")
    hashed = d.select("doc_id", F.md5(F.col("text")).alias("content_hash"))
    canon = hashed.groupBy("content_hash").agg(
        F.min("doc_id").alias("canonical_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )
    return hashed.join(canon, "content_hash").select(
        "doc_id", "content_hash", "canonical_id", "n_copies"
    )


@query(
    "linreg_closed_form",
    oracle="""
    WITH pts AS (
        SELECT CAST(l_quantity AS HUGEINT) AS x,
               CAST(FLOOR(l_extendedprice * 100 + 0.5) AS HUGEINT) AS y
        FROM lineitem),
    s AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * x) AS sxx, SUM(x * y) AS sxy
        FROM pts)
    SELECT CAST(n AS BIGINT) AS n,
           CAST((n * sxy - sx * sy) * 1000000
                // (n * sxx - sx * sx) AS BIGINT) AS slope_micro_cents,
           CAST(sx * 1000 // n AS BIGINT) AS mean_x_milli,
           CAST(sy * 10 // n AS BIGINT) AS mean_y_milli
    FROM s
    """,
    tags=("evaluation", "statistics", "ml"),
)
def linreg_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares fit of extended price on quantity by the normal
    equations — model training as ONE distributed aggregate: the five
    power sums (n, Σx, Σy, Σx², Σxy) are map-side-combinable exact
    integer sums (quantity is integral; price in half-up cents), and
    the closed-form slope (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²) is evaluated
    in decimal(38,0)/HUGEINT integer arithmetic, reported in micro
    cents-per-unit. The denominator is n·Var(x) > 0 and the slope is
    positive for this data, keeping trunc-vs-floor division identical
    across engines. The same shape trains any linear model whose
    sufficient statistics are sums — at 100 TB the whole 'training
    job' is one whole-stage-codegen scan. Means are exact milli-unit
    integer divisions."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(19,0)")
    # half-up cents, same rounding as the oracle's FLOOR(p*100 + 0.5)
    y = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("decimal(19,0)")
    s = li.select(x.alias("x"), y.alias("y")).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.select(
        F.col("n").cast("bigint").alias("n_rows"),
        (num * 1000000).alias("num"),
        den.alias("den"),
        (F.col("sx") * 1000).alias("sx_milli"),
        (F.col("sy") * 10).alias("sy_milli"),
        F.col("n").alias("n_dec"),
    ).selectExpr(
        "n_rows AS n",
        "CAST(num div den AS BIGINT) AS slope_micro_cents",
        "CAST(sx_milli div n_dec AS BIGINT) AS mean_x_milli",
        "CAST(sy_milli div n_dec AS BIGINT) AS mean_y_milli",
    )


#: deterministic stand-in classifier: "high-value order" if totalprice
#: crosses this threshold — the predictions whose quality the
#: confusion/kappa entries measure
PRICE_CUTOFF = 150000.0


@query(
    "confusion_matrix_exact",
    oracle=f"""
    WITH scored AS (
        SELECT CASE WHEN o_totalprice >= {PRICE_CUTOFF} THEN 1 ELSE 0 END
                   AS pred,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label
        FROM orders),
    cm AS (
        SELECT CAST(SUM(pred * label) AS HUGEINT) AS tp,
               CAST(SUM(pred * (1 - label)) AS HUGEINT) AS fp,
               CAST(SUM((1 - pred) * label) AS HUGEINT) AS fn,
               CAST(SUM((1 - pred) * (1 - label)) AS HUGEINT) AS tn
        FROM scored)
    SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
           CAST((tp + tn) * 1000 // (tp + fp + fn + tn) AS BIGINT)
               AS accuracy_permille,
           CAST(CASE WHEN tp + fp > 0 THEN tp * 1000 // (tp + fp) END
                AS BIGINT) AS precision_permille,
           CAST(CASE WHEN tp + fn > 0 THEN tp * 1000 // (tp + fn) END
                AS BIGINT) AS recall_permille,
           CAST(CASE WHEN 2 * tp + fp + fn > 0
                     THEN 2 * tp * 1000 // (2 * tp + fp + fn) END
                AS BIGINT) AS f1_permille
    FROM cm
    """,
    tags=("evaluation", "statistics", "ml"),
)
def confusion_matrix_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classifier-evaluation primitive: confusion counts for a
    deterministic threshold predictor (high total price ⇒ finished
    order) plus exact integer-permille accuracy / precision / recall /
    F1 — F1 in its division-free form 2TP/(2TP+FP+FN), so every
    metric is one integer quotient. ONE map-side-combinable aggregate
    over the corpus (four sums of 0/1 products); metric arithmetic
    runs on the single result row. The permille gates a data-quality
    classifier pipeline thresholds on before a model swap."""
    o = load_table(spark, sf_dir, "orders")
    pred = F.when(F.col("o_totalprice") >= PRICE_CUTOFF, 1).otherwise(0)
    label = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    cm = o.select(pred.alias("pred"), label.alias("label")).agg(
        F.sum(F.col("pred") * F.col("label")).cast("decimal(38,0)").alias("tp"),
        F.sum(F.col("pred") * (1 - F.col("label")))
        .cast("decimal(38,0)")
        .alias("fp"),
        F.sum((1 - F.col("pred")) * F.col("label"))
        .cast("decimal(38,0)")
        .alias("fn"),
        F.sum((1 - F.col("pred")) * (1 - F.col("label")))
        .cast("decimal(38,0)")
        .alias("tn"),
    )
    # guards: a single-class prediction or label slice zeroes a
    # denominator — emit NULL identically on both engines (Spark div
    # would NULL while DuckDB // would ERROR without the CASE)
    return cm.selectExpr(
        "CAST(tp AS BIGINT) AS tp",
        "CAST(fp AS BIGINT) AS fp",
        "CAST(fn AS BIGINT) AS fn",
        "CAST(tn AS BIGINT) AS tn",
        "CAST(((tp + tn) * 1000) div (tp + fp + fn + tn) AS BIGINT)"
        " AS accuracy_permille",
        "CAST(CASE WHEN tp + fp > 0 THEN (tp * 1000) div (tp + fp) END"
        " AS BIGINT) AS precision_permille",
        "CAST(CASE WHEN tp + fn > 0 THEN (tp * 1000) div (tp + fn) END"
        " AS BIGINT) AS recall_permille",
        "CAST(CASE WHEN 2 * tp + fp + fn > 0"
        " THEN (2 * tp * 1000) div (2 * tp + fp + fn) END AS BIGINT)"
        " AS f1_permille",
    )


@query(
    "cohens_kappa_exact",
    oracle="""
    WITH rated AS (
        SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS r1,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS r2
        FROM orders),
    s AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(CASE WHEN r1 = r2 THEN 1 ELSE 0 END) AS HUGEINT)
                   AS agree,
               CAST(SUM(r1) AS HUGEINT) AS p1,
               CAST(SUM(r2) AS HUGEINT) AS p2
        FROM rated)
    SELECT CAST(n AS BIGINT) AS n, CAST(agree AS BIGINT) AS agree,
           CAST(CASE WHEN n * n > p1 * p2 + (n - p1) * (n - p2)
                     THEN (n * agree - (p1 * p2 + (n - p1) * (n - p2)))
                          * 1000
                          // (n * n - (p1 * p2 + (n - p1) * (n - p2)))
                END AS BIGINT) AS kappa_permille,
           CAST(agree * 1000 // n AS BIGINT) AS po_permille
    FROM s
    """,
    tags=("evaluation", "statistics", "annotation"),
)
def cohens_kappa_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic binary 'raters'
    (urgent-priority flag vs finished-status flag) — the
    inter-annotator-agreement gate every labeling pipeline runs before
    trusting its labels. κ = (p₀ − p_e)/(1 − p_e) clears to the pure-
    integer form (N·agree − Σ marginal products)·1000 div (N² −
    Σ marginal products); chance-corrected agreement with zero float.
    One aggregate of four sums; κ ∈ (−1, 1] and the quotient is
    engine-identical at EITHER sign — Spark ``div`` and DuckDB ``//``
    both truncate toward zero (at sf0.001 these raters land slightly
    below chance, κ = −24‰, and the compare stays value-exact)."""
    o = load_table(spark, sf_dir, "orders")
    r1 = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
    ).otherwise(0)
    r2 = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    s = o.select(r1.alias("r1"), r2.alias("r2")).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.when(F.col("r1") == F.col("r2"), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("agree"),
        F.sum("r1").cast("decimal(38,0)").alias("p1"),
        F.sum("r2").cast("decimal(38,0)").alias("p2"),
    )
    # degenerate guard: both raters single-class ⇒ pe = 1 ⇒ kappa
    # undefined — NULL on both engines rather than div-by-zero skew
    return s.selectExpr(
        "CAST(n AS BIGINT) AS n",
        "CAST(agree AS BIGINT) AS agree",
        "CAST(CASE WHEN n * n > p1 * p2 + (n - p1) * (n - p2)"
        " THEN ((n * agree - (p1 * p2 + (n - p1) * (n - p2))) * 1000)"
        " div (n * n - (p1 * p2 + (n - p1) * (n - p2))) END AS BIGINT)"
        " AS kappa_permille",
        "CAST((agree * 1000) div n AS BIGINT) AS po_permille",
    )


@query(
    "quantile_normalization",
    oracle="""
    WITH ranked AS (
        SELECT source, doc_id, n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY n_chars, doc_id) AS r
        FROM documents),
    ref AS (
        SELECT r,
               CAST(SUM(n_chars) AS HUGEINT) AS s,
               CAST(COUNT(*) AS HUGEINT) AS c
        FROM ranked GROUP BY r)
    SELECT ranked.source, ranked.doc_id, ranked.n_chars,
           CAST(ranked.r AS BIGINT) AS r,
           CAST(ref.s * 1000 // ref.c AS BIGINT) AS normalized_milli
    FROM ranked JOIN ref USING (r)
    """,
    tags=("evaluation", "preprocessing", "statistics"),
)
def quantile_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization across sources (the Bolstad et al.
    microarray recipe, reused in ML feature alignment): every source's
    documents are ranked by size, and each document's value is
    replaced by the MEAN value at its rank across ALL sources — after
    which every source has an identical size distribution, removing
    per-source scale artifacts before cross-source quality
    comparisons. Exact: ranks from per-source windows (partitioned —
    the sort distributes), the reference distribution is one
    rank-keyed aggregate, and the normalized value is the exact
    integer milli-quotient sum·1000 div count. Sources of unequal
    size contribute to the ranks they reach — the standard unequal-n
    convention, identical on both engines."""
    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = d.select(
        "source", "doc_id", "n_chars", F.row_number().over(w).alias("r")
    )
    ref = ranked.groupBy("r").agg(
        F.sum("n_chars").cast("decimal(38,0)").alias("s"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("c"),
    )
    return (
        ranked.join(ref, "r")
        .selectExpr(
            "source",
            "doc_id",
            "n_chars",
            "CAST(r AS BIGINT) AS r",
            "CAST((s * 1000) div c AS BIGINT) AS normalized_milli",
        )
    )


@query(
    "cumulative_gains_deciles",
    oracle=f"""
    WITH scored AS (
        SELECT o_orderpriority AS grp,
               NTILE({CALIB_BINS}) OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey) AS decile,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
        FROM orders),
    per_bin AS (
        SELECT grp, decile,
               CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(pos) AS HUGEINT) AS pos
        FROM scored GROUP BY grp, decile),
    cum AS (
        SELECT grp, decile, n, pos,
               SUM(n) OVER (PARTITION BY grp ORDER BY decile) AS cum_n,
               SUM(pos) OVER (PARTITION BY grp ORDER BY decile) AS cum_pos,
               SUM(pos) OVER (PARTITION BY grp) AS tot_pos,
               SUM(n) OVER (PARTITION BY grp) AS tot_n
        FROM per_bin)
    SELECT grp, CAST(decile AS BIGINT) AS decile,
           CAST(cum_n AS BIGINT) AS cum_n,
           CAST(cum_pos AS BIGINT) AS cum_pos,
           CAST(CASE WHEN tot_pos > 0
                     THEN cum_pos * 1000 // tot_pos END AS BIGINT)
               AS capture_permille,
           CAST(CASE WHEN cum_n * tot_pos > 0
                     THEN (cum_pos * tot_n * 1000) // (cum_n * tot_pos) END
                AS BIGINT) AS lift_permille
    FROM cum
    """,
    tags=("evaluation", "statistics", "ranking"),
)
def cumulative_gains_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains / lift chart per report group: score-ordered
    deciles (highest ``o_totalprice`` first) with the fraction of all
    positives captured so far (gains) and the lift over random
    targeting ((cum_pos/cum_n)/(tot_pos/tot_n), cleared to one integer
    quotient) — the complement of ``calibration_bins_exact`` (per-bin
    rate there, cumulative capture here) and the last face of the
    model-targeting report besides AUC. Same scale shape as
    calibration: the decile assignment is the distributed
    :func:`grouped_scan` (descending score order) + closed-form NTILE
    — no enum-partitioned window over raw rows. The cumulative
    windows that remain run over the PRE-AGGREGATED per-bin table
    (10 rows per group at any corpus size — bounded input, where a
    group-partitioned window is the right plan). decimal(38,0)/
    HUGEINT wide terms, NULL-guarded denominators identical on both
    engines."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").alias("score"),
        F.col("o_orderkey").alias("okey"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("pos"),
    )
    ranked, totals = grouped_scan(
        base, ["grp"], [F.col("score").desc(), F.col("okey")]
    )
    sizes = group_sizes_df(spark, totals, ranked.select("grp").schema)
    scored = ranked.join(F.broadcast(sizes), "grp").select(
        "grp",
        ntile_closed_form(F.col("rn"), F.col("n"), CALIB_BINS).alias(
            "decile"
        ),
        "pos",
    )
    per_bin = scored.groupBy("grp", "decile").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("pos").cast("decimal(38,0)").alias("pos"),
    )
    wc = W.partitionBy("grp").orderBy("decile")
    wg = W.partitionBy("grp")
    cum = per_bin.select(
        "grp",
        "decile",
        F.sum("n").over(wc).alias("cum_n"),
        F.sum("pos").over(wc).alias("cum_pos"),
        F.sum("pos").over(wg).alias("tot_pos"),
        F.sum("n").over(wg).alias("tot_n"),
    )
    return cum.selectExpr(
        "grp",
        "CAST(decile AS BIGINT) AS decile",
        "CAST(cum_n AS BIGINT) AS cum_n",
        "CAST(cum_pos AS BIGINT) AS cum_pos",
        "CAST(CASE WHEN tot_pos > 0 THEN (cum_pos * 1000) div tot_pos END"
        " AS BIGINT) AS capture_permille",
        "CAST(CASE WHEN cum_n * tot_pos > 0"
        " THEN (cum_pos * tot_n * 1000) div (cum_n * tot_pos) END"
        " AS BIGINT) AS lift_permille",
    )


@query(
    "spearman_rank_corr_exact",
    oracle="""
    WITH ranked AS (
        SELECT o_orderpriority AS grp,
               RANK() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS rx,
               RANK() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_orderdate, o_orderkey) AS ry
        FROM orders),
    s AS (
        SELECT grp, CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(CAST(rx - ry AS HUGEINT) * (rx - ry)) AS HUGEINT)
                   AS sd2
        FROM ranked GROUP BY grp)
    SELECT grp, CAST(n AS BIGINT) AS n,
           CAST(sd2 AS BIGINT) AS sum_d2,
           CAST(CASE WHEN n > 1
                     THEN 1000 - (6000 * sd2) // (n * (n * n - 1)) END
                AS BIGINT) AS spearman_permille
    FROM s
    """,
    tags=("evaluation", "statistics"),
)
def spearman_rank_corr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Spearman rank correlation per report group — the
    monotone-association twin of ``corr_matrix_exact``'s Pearson
    (outlier-robust, the drift-vs-feature screen that works on any
    monotone scale): ρ = 1 − 6Σd²/(n(n²−1)) with d the rank
    difference, cleared to one integer quotient in permille. Ranks
    come from TWO distributed :func:`grouped_scan` passes (one per
    axis; the unique ``o_orderkey`` tiebreak makes RANK() equal the
    scan's row_number, so the oracle's window RANK matches
    bit-for-bit) joined back on the order key — never a window
    partitioned by the 5-value priority enum over raw rows. Σd² rides
    decimal(38,0)/HUGEINT — exact past 10⁹ rows per group. Note the
    deliberate tie-break-by-key convention (not average ranks):
    identical on both engines and stable, the property the oracle
    actually needs."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_orderkey").alias("okey"),
        "o_totalprice",
        "o_orderdate",
    )
    rx_df, _ = grouped_scan(
        base.select("grp", "okey", "o_totalprice"),
        ["grp"],
        [F.col("o_totalprice"), F.col("okey")],
    )
    ry_df, _ = grouped_scan(
        base.select("grp", "okey", "o_orderdate"),
        ["grp"],
        [F.col("o_orderdate"), F.col("okey")],
    )
    ranked = rx_df.select(
        "grp", "okey", F.col("rn").alias("rx")
    ).join(ry_df.select("okey", F.col("rn").alias("ry")), "okey")
    d = (F.col("rx") - F.col("ry")).cast("decimal(19,0)")
    s = ranked.groupBy("grp").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(d * d).cast("decimal(38,0)").alias("sd2"),
    )
    return s.selectExpr(
        "grp",
        "CAST(n AS BIGINT) AS n",
        "CAST(sd2 AS BIGINT) AS sum_d2",
        "CAST(CASE WHEN n > 1"
        " THEN 1000 - (6000 * sd2) div (n * (n * n - 1)) END AS BIGINT)"
        " AS spearman_permille",
    )


@query(
    "hhi_concentration",
    oracle="""
    WITH cnt AS (
        SELECT source, CAST(COUNT(*) AS HUGEINT) AS c
        FROM documents GROUP BY source),
    tot AS (SELECT CAST(SUM(c) AS HUGEINT) AS t FROM cnt)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
           CAST((SELECT t FROM tot) AS BIGINT) AS n_docs,
           CAST(SUM(c * c) * 1000000 // ((SELECT t FROM tot)
                * (SELECT t FROM tot)) AS BIGINT) AS hhi_ppm,
           CAST(1000000 // COUNT(*) AS BIGINT) AS uniform_hhi_ppm
    FROM cnt
    """,
    tags=("evaluation", "statistics", "corpus-balance"),
)
def hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration of the corpus across
    sources: HHI = Σ shareᵢ² in exact parts-per-million (Σc²·10⁶ div
    T²) with the uniform-mix floor 10⁶/n for context — the
    one-number "is this corpus dominated by a few sources?" audit
    that complements ``gini_corpus_inequality`` (within-source size
    inequality there, across-source mass concentration here) and
    feeds the domain-mix reweighting decisions. One count aggregate +
    arithmetic on |sources| rows."""
    d = load_table(spark, sf_dir, "documents")
    cnt = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("c")
    )
    s = cnt.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n_sources"),
        F.sum("c").cast("decimal(38,0)").alias("t"),
        F.sum(F.col("c") * F.col("c")).cast("decimal(38,0)").alias("sc2"),
    )
    return s.selectExpr(
        "CAST(n_sources AS BIGINT) AS n_sources",
        "CAST(t AS BIGINT) AS n_docs",
        "CAST((sc2 * 1000000) div (t * t) AS BIGINT) AS hhi_ppm",
        "CAST(1000000 div n_sources AS BIGINT) AS uniform_hhi_ppm",
    )


@query(
    "runs_test_shuffle_audit",
    oracle="""
    WITH med AS (
        SELECT event_type, median(value) AS m
        FROM events GROUP BY event_type),
    seq AS (
        SELECT e.event_type,
               CASE WHEN e.value > med.m THEN 1 ELSE 0 END AS above,
               ROW_NUMBER() OVER (PARTITION BY e.event_type
                                  ORDER BY e.ts, e.event_id) AS pos
        FROM events e JOIN med USING (event_type)),
    runs AS (
        SELECT event_type, above,
               CASE WHEN above <> LAG(above) OVER (
                        PARTITION BY event_type ORDER BY pos)
                    THEN 1 ELSE 0 END AS boundary
        FROM seq),
    s AS (
        SELECT event_type,
               CAST(SUM(boundary) + 1 AS HUGEINT) AS n_runs,
               CAST(SUM(above) AS HUGEINT) AS n1,
               CAST(SUM(1 - above) AS HUGEINT) AS n2
        FROM runs GROUP BY event_type)
    SELECT event_type, CAST(n_runs AS BIGINT) AS n_runs,
           CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(CASE WHEN n1 + n2 > 0
                     THEN 1000 + (2000 * n1 * n2) // (n1 + n2) END
                AS BIGINT) AS expected_runs_milli
    FROM s
    """,
    tags=("evaluation", "statistics", "sampling"),
)
def runs_test_shuffle_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs count per event type: the sequence-
    randomness audit a pipeline runs AFTER shuffling (the check
    behind ``corpus_shuffle_hash``'s promise) — a time-ordered value
    sequence that still clusters above/below its median has too FEW
    runs; a well-shuffled one lands near the expectation
    1 + 2n₁n₂/(n₁+n₂), reported exactly in milli units beside the
    observed count (the z-statistic needs a square root, so the
    comparison is left to the caller — the counts are the exact
    part). Scale shape: the per-type median comes from the
    DISTRIBUTED selection (:func:`grouped_scan` global ranks → the
    two middle order statistics → their mean, matching DuckDB's
    interpolated ``median`` — never Spark's buffering ``median``
    aggregate, which holds a whole group's values in one task), and
    the boundary count decomposes over range slices: each slice
    counts its internal sign changes with a (slice, type)-partitioned
    lag window, seam boundaries between consecutive slices come from
    the bounded per-(slice, type) first/last collect (n_slices ×
    |types| rows). No window partitioned by the 5-value type enum
    over raw rows anywhere; final arithmetic runs on |types| rows of
    exact Python integers."""
    ev = load_table(spark, sf_dir, "events")
    vs, vtot = grouped_scan(
        ev.select("event_type", "value", "event_id"),
        ["event_type"],
        [F.col("value"), F.col("event_id")],
    )
    mid = [
        (g[0], (t["n"] + 1) // 2, t["n"] // 2 + 1) for g, t in vtot.items()
    ]
    mdf = local_relation(spark, mid, "event_type string, lo long, hi long")
    med = (
        vs.join(F.broadcast(mdf), "event_type")
        .where((F.col("rn") == F.col("lo")) | (F.col("rn") == F.col("hi")))
        .groupBy("event_type")
        .agg(F.avg("value").alias("m"))
    )
    seq = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.when(F.col("value") > F.col("m"), 1).otherwise(0).alias("above"),
        "ts",
        "event_id",
    )
    parted = range_slices(
        seq, ["event_type"], [F.col("ts"), F.col("event_id")]
    )
    w = W.partitionBy("__pid", "event_type").orderBy("ts", "event_id")
    loc = parted.select(
        "__pid",
        "event_type",
        "above",
        F.lag("above").over(w).alias("prev"),
        F.row_number().over(w).alias("lrk"),
    )
    stats = (
        loc.groupBy("__pid", "event_type")
        .agg(
            # NULL prev (slice-first row) compares to null ⇒ otherwise(0)
            F.sum(
                F.when(F.col("above") != F.col("prev"), 1).otherwise(0)
            ).alias("bounds"),
            F.count(F.lit(1)).alias("cnt"),
            F.sum("above").alias("n1"),
            F.min_by("above", "lrk").alias("first_above"),
            F.max_by("above", "lrk").alias("last_above"),
        )
        .collect()
    )
    per: dict[str, dict] = {}
    for row in sorted(stats, key=lambda r: r["__pid"]):
        s = per.setdefault(
            row["event_type"], {"bounds": 0, "cnt": 0, "n1": 0, "last": None}
        )
        s["bounds"] += row["bounds"]
        if s["last"] is not None and row["first_above"] != s["last"]:
            s["bounds"] += 1  # seam between consecutive slices
        s["cnt"] += row["cnt"]
        s["n1"] += row["n1"]
        s["last"] = row["last_above"]
    rows = []
    for et in sorted(per):
        s = per[et]
        n1, n2 = s["n1"], s["cnt"] - s["n1"]
        # positive operands: Python // == SQL div here
        rows.append(
            (et, s["bounds"] + 1, n1, n2, 1000 + (2000 * n1 * n2) // (n1 + n2))
        )
    return local_relation(spark,
        rows,
        "event_type string, n_runs bigint, n1 bigint, n2 bigint,"
        " expected_runs_milli bigint",
    )


@query(
    "kendall_tau_exact",
    oracle="""
    WITH m AS (
        SELECT n.n_name AS nation,
               date_trunc('month', o.o_orderdate) AS month,
               CAST(COUNT(*) AS BIGINT) AS x,
               CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS y
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2),
    p AS (
        SELECT a.nation,
               (a.x - b.x) * (a.y - b.y) AS prod,
               CAST(a.x = b.x AS INTEGER) AS tx,
               CAST(a.y = b.y AS INTEGER) AS ty
        FROM m a JOIN m b ON a.nation = b.nation AND a.month < b.month)
    SELECT nation,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN prod > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS concordant,
           CAST(SUM(CASE WHEN prod < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS discordant,
           CAST(SUM(CASE WHEN tx = 1 AND ty = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS ties_x,
           CAST(SUM(CASE WHEN tx = 0 AND ty = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS ties_y,
           CAST(SUM(tx * ty) AS BIGINT) AS ties_both,
           CAST(SUM(CASE WHEN prod > 0 THEN 1 ELSE 0 END)
                - SUM(CASE WHEN prod < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS tau_b_numer
    FROM p
    GROUP BY nation
    """,
    tags=("evaluation", "statistics", "rank-correlation"),
)
def kendall_tau_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Kendall rank correlation components (tau-b numerator plus
    the full concordant / discordant / tie decomposition) between two
    monthly series per nation: order volume (x) and active customers
    (y) — the nonparametric twin of ``spearman_rank_corr_exact``.

    Everything that reaches the hash is an integer pair count, so both
    engines agree bit-for-bit; tau-b's denominator needs a square root
    and stays caller-side (the numerator C−D and the tie counts fully
    determine it).

    100 TB posture: the raw corpus is first reduced to one row per
    (nation, month) by a map-side-combinable aggregate — the pair
    expansion then runs on that PRE-AGGREGATED series, so the
    quadratic term is bounded by months² per nation (a time-horizon
    constant, independent of row volume), exactly the
    pre-aggregation-before-window discipline in the module header."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    m = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_trunc("month", "o_orderdate").alias("month"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("x"),
            F.countDistinct("o_custkey").cast("bigint").alias("y"),
        )
    )
    a = m.alias("a")
    b = m.alias("b")
    pairs = a.join(
        b,
        (F.col("a.nation") == F.col("b.nation"))
        & (F.col("a.month") < F.col("b.month")),
    ).select(
        F.col("a.nation").alias("nation"),
        ((F.col("a.x") - F.col("b.x")) * (F.col("a.y") - F.col("b.y"))).alias(
            "prod"
        ),
        (F.col("a.x") == F.col("b.x")).cast("int").alias("tx"),
        (F.col("a.y") == F.col("b.y")).cast("int").alias("ty"),
    )
    conc = F.sum(F.when(F.col("prod") > 0, 1).otherwise(0))
    disc = F.sum(F.when(F.col("prod") < 0, 1).otherwise(0))
    return pairs.groupBy("nation").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        conc.cast("bigint").alias("concordant"),
        disc.cast("bigint").alias("discordant"),
        F.sum(F.when((F.col("tx") == 1) & (F.col("ty") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("ties_x"),
        F.sum(F.when((F.col("tx") == 0) & (F.col("ty") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("ties_y"),
        F.sum(F.col("tx") * F.col("ty")).cast("bigint").alias("ties_both"),
        (conc - disc).cast("bigint").alias("tau_b_numer"),
    )


#: isotonic (PAV) calibration: fixed score grid — cents // width, so the
#: cell count is bounded (~1526 occupied at the TPC-H price range) at
#: ANY corpus size; the PAV stack runs over ≤ PAV_BINS blocks on the
#: driver while every corpus-sized pass stays a map-side-combinable
#: aggregate
PAV_BINS = 2048
PAV_CENT_WIDTH = 32768


def pav_pool(cells: list[tuple[int, int]]) -> list[list[int]]:
    """Pool-adjacent-violators over ordered (rows, positives) cells,
    all-integer: pool while the previous block mean >= the next (>= so
    surviving block means are STRICTLY increasing); the mean p/n is
    never materialized — the violation test is cross-multiplication."""
    blocks: list[list[int]] = []
    for cur_n, cur_p in cells:
        while blocks and blocks[-1][1] * cur_n >= cur_p * blocks[-1][0]:
            pn, pp = blocks.pop()
            cur_n += pn
            cur_p += pp
        blocks.append([cur_n, cur_p])
    return blocks


@query(
    "isotonic_pav_audit",
    oracle=f"""
    WITH binned AS (
        SELECT LEAST({PAV_BINS - 1},
                     CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                          // {PAV_CENT_WIDTH} AS BIGINT)) AS bin,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
        FROM orders)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(COUNT(DISTINCT bin) AS BIGINT) AS n_bins_occupied,
           1 AS monotone_ok,
           1 AS mass_conserved,
           1 AS gcm_minorant_ok,
           1 AS boundaries_exact
    FROM binned
    """,
    tags=("evaluation", "statistics", "calibration", "audit"),
)
def isotonic_pav_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic regression (pool-adjacent-violators) calibration fit
    with its optimality certificate as the verdict row. Scores
    (``o_totalprice``) land on the fixed ``PAV_BINS`` cent grid
    IN-PLAN — the KS quantization discipline, so the per-bin aggregate
    is ONE map-side-combinable shuffle of ≤ PAV_BINS groups at any
    corpus size — and PAV pools the ≤ PAV_BINS (n, positives) cells on
    the driver with EXACT integer arithmetic (violation test by
    cross-multiplication, never a float rate). The verdicts re-prove,
    bin by bin, the theorem that makes PAV the unique isotonic
    least-squares fit: block means strictly increase
    (``monotone_ok``), pooled masses add back to the exact corpus
    totals (``mass_conserved``), the fitted cumulative-positives curve
    is a minorant of the empirical cumulative diagram
    (``gcm_minorant_ok``) and touches it exactly at every block
    boundary (``boundaries_exact``) — the greatest-convex-minorant
    characterization, all checked as cross-multiplied integers. The
    oracle independently recomputes the corpus row/positive/occupied-
    bin census from the same grid expression and pins every verdict."""
    o = load_table(spark, sf_dir, "orders")
    binned = o.select(
        F.least(
            F.lit(PAV_BINS - 1),
            F.expr(
                f"CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)"
                f" div {PAV_CENT_WIDTH} AS BIGINT)"
            ),
        ).alias("bin"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("pos"),
    )
    cells = (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("pos").cast("bigint").alias("p"),
        )
        .orderBy("bin")
        .collect()  # bounded: ≤ PAV_BINS rows by construction
    )
    n_rows = sum(r.n for r in cells)
    n_pos = sum(r.p for r in cells)
    blocks = pav_pool([(r.n, r.p) for r in cells])

    monotone = all(
        blocks[i][1] * blocks[i + 1][0] < blocks[i + 1][1] * blocks[i][0]
        for i in range(len(blocks) - 1)
    )
    mass = (
        sum(b[0] for b in blocks) == n_rows
        and sum(b[1] for b in blocks) == n_pos
    )

    # GCM walk: fitted cumulative positives must never exceed the
    # empirical cumulative diagram, and must meet it at block ends
    minorant = True
    boundaries = True
    actual_cum = 0
    fitted_base = 0  # fitted cum positives at the current block start
    bi, in_block = 0, 0
    for r in cells:
        actual_cum += r.p
        in_block += r.n
        bn, bp = blocks[bi]
        # fitted_cum = fitted_base + bp * in_block / bn  (rational)
        if fitted_base * bn + bp * in_block > actual_cum * bn:
            minorant = False
        if in_block == bn:
            if fitted_base + bp != actual_cum:
                boundaries = False
            fitted_base += bp
            bi += 1
            in_block = 0
    if bi != len(blocks) or in_block != 0:
        boundaries = False

    return local_relation(spark,
        [
            (
                n_rows,
                n_pos,
                len(cells),
                int(monotone),
                int(mass),
                int(minorant),
                int(boundaries),
            )
        ],
        "n_rows bigint, n_pos bigint, n_bins_occupied bigint, "
        "monotone_ok int, mass_conserved int, gcm_minorant_ok int, "
        "boundaries_exact int",
    )


def monthly_order_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(nation, mi, y): order volume per nation-month with an integer
    month index — the pre-aggregated bounded series shared by the
    trend pair (``theil_sen_slope_exact`` magnitude,
    ``mann_kendall_trend`` significance). One map-side-combinable
    aggregate reduces the corpus before any quadratic work."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            (
                F.year("o_orderdate") * 12 + F.month("o_orderdate")
            ).alias("mi"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    )


@query(
    "theil_sen_slope_exact",
    oracle="""
    WITH m AS (
        SELECT n.n_name AS nation,
               year(o.o_orderdate) * 12 + month(o.o_orderdate) AS mi,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2),
    p AS (
        SELECT a.nation,
               CAST(b.y - a.y AS DOUBLE) / CAST(b.mi - a.mi AS DOUBLE)
                   AS slope
        FROM m a JOIN m b ON a.nation = b.nation AND a.mi < b.mi)
    SELECT nation,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(quantile_disc(slope, 0.5) AS DOUBLE) AS theil_sen_slope
    FROM p GROUP BY nation
    """,
    tags=("evaluation", "statistics", "regression"),
)
def theil_sen_slope_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen estimator per nation — the robust (29%-breakdown)
    trend slope of the monthly order-volume series, completing the
    regression family: :func:`linreg_closed_form` is the least-squares
    fit, this is its outlier-resistant twin, exactly as
    ``mad_robust_stats`` shadows ``stats_moments``. The slope is the
    MEDIAN of all pairwise slopes (y₂−y₁)/(m₂−m₁) — each slope an
    identical IEEE division of exact integers on both engines, the
    median an exact order statistic picked by the shared
    :func:`grouped_order_stats` selection at DuckDB's
    ``quantile_disc`` rank ⌈n/2⌉.

    100 TB posture: the kendall discipline — the corpus reduces to one
    row per (nation, month) via a map-side-combinable aggregate FIRST,
    so the quadratic pair expansion runs over months² per nation, a
    time-horizon constant independent of row volume."""
    m = monthly_order_series(spark, sf_dir)
    a, b = m.alias("a"), m.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.nation") == F.col("b.nation"))
            & (F.col("a.mi") < F.col("b.mi")),
        )
        .select(
            F.col("a.nation").alias("nation"),
            (
                (F.col("b.y") - F.col("a.y")).cast("double")
                / (F.col("b.mi") - F.col("a.mi")).cast("double")
            ).alias("slope"),
        )
    )
    # n_pairs rides out of the selection's own offsets collect — the
    # quadratic pair pipeline executes exactly once
    return grouped_order_stats(
        spark,
        pairs,
        ["nation"],
        "slope",
        {"theil_sen_slope": lambda n: (50 * n + 99) // 100},
        count_col="n_pairs",
    ).select("nation", "n_pairs", "theil_sen_slope")


@query(
    "mann_kendall_trend",
    oracle="""
    WITH m AS (
        SELECT n.n_name AS nation,
               year(o.o_orderdate) * 12 + month(o.o_orderdate) AS mi,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2),
    p AS (
        SELECT a.nation,
               CASE WHEN b.y > a.y THEN 1
                    WHEN b.y < a.y THEN -1 ELSE 0 END AS sgn
        FROM m a JOIN m b ON a.nation = b.nation AND a.mi < b.mi),
    s AS (SELECT nation, CAST(SUM(sgn) AS BIGINT) AS s_statistic
          FROM p GROUP BY nation),
    ties AS (
        SELECT nation, CAST(COUNT(*) AS BIGINT) AS t
        FROM m GROUP BY nation, y),
    v AS (
        SELECT nation,
               CAST(SUM(t) AS BIGINT) AS n_months,
               CAST(SUM(t) * (SUM(t) - 1) * (2 * SUM(t) + 5)
                    - SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT)
                   AS var_s_x18
        FROM ties GROUP BY nation)
    SELECT s.nation, v.n_months, s.s_statistic, v.var_s_x18
    FROM s JOIN v USING (nation)
    """,
    tags=("evaluation", "statistics", "regression"),
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall trend test per nation over the shared
    :func:`monthly_order_series` — the SIGNIFICANCE half of the
    nonparametric trend pair whose magnitude half is
    ``theil_sen_slope_exact`` (the classic hydrology/climatology
    pairing; both are rank methods immune to outliers and
    monotone transforms). Everything that reaches the hash is exact
    integer arithmetic: S = Σ_{i<j} sign(y_j − y_i) over the
    time-ordered series, and the tie-corrected variance scaled ×18 to
    stay integral — Var(S)·18 = n(n−1)(2n+5) − Σ_k t_k(t_k−1)(2t_k+5)
    over the y-tie groups. The z-statistic needs a square root and
    stays caller-side, exactly like ``kendall_tau_exact``'s tau-b
    denominator (S and Var·18 fully determine it). Same 100 TB
    posture as the whole trend family: pre-aggregate to one
    (nation, month) row FIRST, so the pair expansion is months² per
    nation — a time-horizon constant."""
    m = monthly_order_series(spark, sf_dir)
    a, b = m.alias("a"), m.alias("b")
    sgn = (
        F.when(F.col("b.y") > F.col("a.y"), 1)
        .when(F.col("b.y") < F.col("a.y"), -1)
        .otherwise(0)
    )
    s = (
        a.join(
            b,
            (F.col("a.nation") == F.col("b.nation"))
            & (F.col("a.mi") < F.col("b.mi")),
        )
        .groupBy(F.col("a.nation").alias("nation"))
        .agg(F.sum(sgn).cast("bigint").alias("s_statistic"))
    )
    t = F.col("t")
    v = (
        m.groupBy("nation", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .groupBy("nation")
        .agg(
            F.sum("t").cast("bigint").alias("n_months"),
            F.sum(t * (t - 1) * (2 * t + 5)).cast("bigint").alias("tie_term"),
        )
        .select(
            "nation",
            "n_months",
            (
                F.col("n_months")
                * (F.col("n_months") - 1)
                * (2 * F.col("n_months") + 5)
                - F.col("tie_term")
            ).cast("bigint").alias("var_s_x18"),
        )
    )
    return s.join(F.broadcast(v), "nation").select(
        "nation", "n_months", "s_statistic", "var_s_x18"
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


# ---------------------------------------------------------------------------
# MCC / Youden-J threshold sweep (one-pass model selection)

#: candidate decision thresholds on o_totalprice (covers the observed
#: ~[1k, 500k] range; PRICE_CUTOFF = 150k is among them so the sweep
#: subsumes confusion_matrix_exact's operating point)
MCC_THRESHOLDS = (50_000, 100_000, 150_000, 200_000, 250_000, 300_000)


@query(
    "mcc_threshold_sweep",
    oracle=f"""
    WITH scored AS (
        SELECT o_totalprice AS p,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label
        FROM orders),
    agg AS (
        SELECT SUM(label) AS pos, SUM(1 - label) AS neg,
               {", ".join(
                   f"SUM(CASE WHEN p >= {t} THEN label ELSE 0 END) AS tp_{t},"
                   f" SUM(CASE WHEN p >= {t} THEN 1 - label ELSE 0 END)"
                   f" AS fp_{t}"
                   for t in MCC_THRESHOLDS)}
        FROM scored),
    cm AS (
        {" UNION ALL ".join(
            f"SELECT {t} AS threshold, CAST(tp_{t} AS HUGEINT) AS tp,"
            f" CAST(fp_{t} AS HUGEINT) AS fp, CAST(pos AS HUGEINT) AS pos,"
            f" CAST(neg AS HUGEINT) AS neg FROM agg"
            for t in MCC_THRESHOLDS)})
    SELECT CAST(threshold AS BIGINT) AS threshold,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(pos - tp AS BIGINT) AS fn, CAST(neg - fp AS BIGINT) AS tn,
           CASE WHEN tp + fp = 0 OR pos - tp + neg - fp = 0
                     OR pos = 0 OR neg = 0
                THEN 0e0
                ELSE CAST(tp * (neg - fp) - fp * (pos - tp) AS DOUBLE)
                     / sqrt(CAST((tp + fp) * pos * neg
                                 * (pos - tp + neg - fp) AS DOUBLE)) END
               AS mcc,
           CAST(CASE WHEN pos > 0 THEN tp * 1000 // pos ELSE 0 END
                + CASE WHEN neg > 0 THEN (neg - fp) * 1000 // neg ELSE 0 END
                - 1000 AS BIGINT) AS youden_j_permille
    FROM cm ORDER BY threshold
    """,
    tags=("evaluation", "statistics", "ml"),
)
def mcc_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation and Youden's J across a grid of decision
    thresholds in ONE corpus pass — the model-selection sweep
    ``confusion_matrix_exact`` (single operating point) and
    ``auc_roc_exact`` (threshold-free area) both leave open: WHICH
    cutoff to deploy. The grid is a compile-time constant, so every
    threshold's confusion matrix comes from ONE aggregate of
    per-threshold conditional sums (all map-side combinable) stacked
    to rows — k operating points for the cost of one scan and NO join
    of any kind (the first cut's non-equi band join planned as a
    bounded nested-loop join; plan_audit's red-flag column exists
    precisely to keep that class out, so it was restructured away). MCC =
    (TP·TN − FP·FN)/√((TP+FP)(TP+FN)(TN+FP)(TN+FN)) is the shared
    sqrt-only double over exact DECIMAL(38,0) ↔ HUGEINT counts (the
    numerator may be negative — it never meets integer division; any
    degenerate margin pins 0 via the shared CASE). Youden's J =
    sensitivity + specificity − 1 is integer permille with the
    subtraction AFTER the divisions. Note MCC's known property that
    it is 0 whenever a margin is empty — the sweep shows it."""
    o = load_table(spark, sf_dir, "orders")
    label = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    # the grid is a compile-time constant, so EVERY threshold's
    # confusion counts come from ONE aggregate of per-threshold
    # conditional sums (all map-side combinable) — join-free by
    # construction (the first cut's non-equi band join planned as a
    # nested-loop join; bounded, but the red-flag class plan_audit
    # exists to keep out)
    aggs = [
        F.sum("label").alias("pos"),
        F.sum(1 - F.col("label")).alias("neg"),
    ]
    for t in MCC_THRESHOLDS:
        at = F.col("p") >= t
        aggs.append(F.sum(F.when(at, F.col("label")).otherwise(0)).alias(f"tp_{t}"))
        aggs.append(
            F.sum(F.when(at, 1 - F.col("label")).otherwise(0)).alias(f"fp_{t}")
        )
    agg = o.select(F.col("o_totalprice").alias("p"), label.alias("label")).agg(
        *aggs
    )
    stack = ", ".join(
        f"{t}L, tp_{t}, fp_{t}" for t in MCC_THRESHOLDS
    )
    cm = agg.selectExpr(
        f"stack({len(MCC_THRESHOLDS)}, {stack}) AS (threshold, tp0, fp0)",
        "CAST(pos AS DECIMAL(38,0)) AS pos",
        "CAST(neg AS DECIMAL(38,0)) AS neg",
    ).selectExpr(
        "threshold",
        "CAST(tp0 AS DECIMAL(38,0)) AS tp",
        "CAST(fp0 AS DECIMAL(38,0)) AS fp",
        "pos",
        "neg",
    )
    return cm.selectExpr(
        "CAST(threshold AS BIGINT) AS threshold",
        "CAST(tp AS BIGINT) AS tp",
        "CAST(fp AS BIGINT) AS fp",
        "CAST(pos - tp AS BIGINT) AS fn",
        "CAST(neg - fp AS BIGINT) AS tn",
        "CASE WHEN tp + fp = 0 OR pos - tp + neg - fp = 0"
        "          OR pos = 0 OR neg = 0"
        "     THEN 0e0"
        "     ELSE CAST(tp * (neg - fp) - fp * (pos - tp) AS DOUBLE)"
        "          / sqrt(CAST((tp + fp) * pos * neg"
        "                      * (pos - tp + neg - fp) AS DOUBLE)) END"
        " AS mcc",
        "CAST(CASE WHEN pos > 0 THEN tp * 1000 div pos ELSE 0 END"
        " + CASE WHEN neg > 0 THEN (neg - fp) * 1000 div neg ELSE 0 END"
        " - 1000 AS BIGINT) AS youden_j_permille",
    ).orderBy("threshold")


# ---------------------------------------------------------------------------
# blocking quality, Cliff's delta, Herfindahl–Hirschman concentration


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


#: Welch t² from exact bigint moments — the SAME double expression text
#: runs on both engines (all casts to DOUBLE up front; sample variance
#: via the computational formula; NULL for degenerate groups rather
#: than a cross-engine div-by-zero skew, the funnel/auc guard pattern)
_WELCH_T2 = """
    CASE WHEN n1 >= 2 AND n2 >= 2
              AND (CAST(ss1 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                     / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1e0)
                  / CAST(n1 AS DOUBLE)
                + (CAST(ss2 AS DOUBLE)
                   - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
                     / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1e0)
                  / CAST(n2 AS DOUBLE) > 0e0
    THEN
        (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
         - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
        * (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
           - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
        / ((CAST(ss1 AS DOUBLE)
            - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
           / (CAST(n1 AS DOUBLE) - 1e0) / CAST(n1 AS DOUBLE)
           + (CAST(ss2 AS DOUBLE)
              - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
             / (CAST(n2 AS DOUBLE) - 1e0) / CAST(n2 AS DOUBLE))
    ELSE NULL END
"""


@query(
    "welch_ttest_lengths",
    oracle=f"""
    WITH g AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n1,
               CAST(SUM(n_chars) AS BIGINT) AS s1,
               CAST(SUM(CAST(n_chars AS BIGINT) * n_chars) AS BIGINT) AS ss1
        FROM documents WHERE n_chars IS NOT NULL GROUP BY source),
    tot AS (
        SELECT SUM(n1) AS nt, SUM(s1) AS st, SUM(ss1) AS sst FROM g),
    j AS (
        SELECT g.source, g.n1, g.s1, g.ss1,
               CAST(tot.nt - g.n1 AS BIGINT) AS n2,
               CAST(tot.st - g.s1 AS BIGINT) AS s2,
               CAST(tot.sst - g.ss1 AS BIGINT) AS ss2
        FROM g CROSS JOIN tot)
    SELECT source, n1, s1, ss1, n2, s2, ss2,
           {_WELCH_T2} AS welch_t2
    FROM j
    """,
    tags=("stats", "drift", "quality", "llm-pipeline"),
)
def welch_ttest_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source length-drift audit: Welch's unequal-variance t²
    statistic of each source's document lengths against the REST of
    the corpus — the one-vs-rest mean-shift screen a training-data
    pipeline runs when a crawl source starts emitting truncated or
    concatenated documents (the ``ks_drift_matrix`` sibling for means;
    KS is the whole-distribution screen). Exact bigint moments
    (n, Σlen, Σlen²) per source; the complement group is derived by
    subtracting from corpus totals — no second scan, no self-join.
    t² is ONE shared double expression over those bigints
    (cross-engine bit-equal; see module docstring), NULL on degenerate
    groups (n < 2 or zero pooled variance) rather than an
    engine-divergent division by zero.

    Rows with NULL n_chars are filtered up front — COUNT(*) would
    count them while SUM skips them, silently mixing populations in
    the moments (identically on both engines, so parity alone would
    not catch it).

    Plan: one map-side-combined groupBy(source) over the corpus, one
    broadcast cross-join of the |sources|-row table against its own
    1-row total. At 100 TB this is a single aggregation pass; the t²
    math runs on |sources| rows."""
    d = load_table(spark, sf_dir, "documents").where(
        F.col("n_chars").isNotNull()
    )
    nc = F.col("n_chars").cast("bigint")
    g = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n1"),
        F.sum(nc).cast("bigint").alias("s1"),
        F.sum(nc * nc).cast("bigint").alias("ss1"),
    )
    tot = g.agg(
        F.sum("n1").alias("nt"), F.sum("s1").alias("st"), F.sum("ss1").alias("sst")
    )
    j = g.crossJoin(F.broadcast(tot)).select(
        "source",
        "n1",
        "s1",
        "ss1",
        (F.col("nt") - F.col("n1")).cast("bigint").alias("n2"),
        (F.col("st") - F.col("s1")).cast("bigint").alias("s2"),
        (F.col("sst") - F.col("ss1")).cast("bigint").alias("ss2"),
    )
    return j.select(
        "source",
        "n1",
        "s1",
        "ss1",
        "n2",
        "s2",
        "ss2",
        F.expr(_WELCH_T2).alias("welch_t2"),
    )


#: Wilson interval: z for 95% two-sided, and the report width
WILSON_Z = "1.96e0"
WILSON_TOP_N = 20

#: the SAME double expression runs on both engines: n/r are exact
#: bigints; +,*,/ and sqrt() are IEEE-754 correctly-rounded in both
#: (unlike ln/exp), so the emitted score is bit-identical
_WILSON_LB = f"""
    (CAST(r AS DOUBLE) / CAST(n AS DOUBLE)
     + {WILSON_Z} * {WILSON_Z} / (2e0 * CAST(n AS DOUBLE))
     - {WILSON_Z} * sqrt(
         (CAST(r AS DOUBLE) / CAST(n AS DOUBLE)
          * (1e0 - CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
          + {WILSON_Z} * {WILSON_Z} / (4e0 * CAST(n AS DOUBLE)))
         / CAST(n AS DOUBLE)))
    / (1e0 + {WILSON_Z} * {WILSON_Z} / CAST(n AS DOUBLE))
"""


@query(
    "wilson_lower_bound_rank",
    oracle=f"""
    WITH g AS (
        SELECT l_suppkey,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT_IF(l_returnflag = 'R') AS BIGINT) AS r
        FROM lineitem GROUP BY l_suppkey)
    SELECT l_suppkey, n, r, {_WILSON_LB} AS wilson_lb
    FROM g
    ORDER BY wilson_lb DESC, l_suppkey
    LIMIT {WILSON_TOP_N}
    """,
    tags=("stats", "ranking", "agg"),
)
def wilson_lower_bound_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers ranked by the Wilson score interval's lower bound on
    their return rate — the small-sample-honest way to rank
    proportions (a 1/1 = 100% supplier must NOT outrank a 480/500 =
    96% one; the raw rate does exactly that, the Wilson lower bound
    does not). The industry-standard fix popularized by Miller's
    "How Not To Sort By Average Rating". Exact bigint (n, r) per
    group; the bound is ONE shared double expression — sqrt is
    IEEE-754 correctly-rounded in both engines (unlike ln/exp), so
    this extends the bm25 shared-double discipline to interval
    statistics and the emitted score hash-compares bit-exactly.

    Plan: one map-side-combined groupBy over the fact table, then
    |suppliers| rows of double math and a TakeOrdered top-N with a
    total order (bound desc, supplier) — a single corpus scan at any
    scale."""
    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count_if(F.col("l_returnflag") == "R").cast("bigint").alias("r"),
    )
    return (
        g.select("l_suppkey", "n", "r", F.expr(_WILSON_LB).alias("wilson_lb"))
        .orderBy(F.desc("wilson_lb"), F.asc("l_suppkey"))
        .limit(WILSON_TOP_N)
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
    # table — no separate corpus count() action (an eager count here
    # ran a full scan job even at plan-build time)
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
            # degenerate guard: on an empty corpus `tot`
            # is NULL here (SUM over no rows) so `div` yields NULL;
            # the oracle's CASE pins the same NULL where DuckDB's
            # `// 0` would otherwise diverge loudly
            F.expr("COALESCE(n, 0) * 1000 div tot")
            .cast("bigint")
            .alias("observed_permille"),
            "benford_permille",
        )
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
    (in this module), which runs the same statistic over the raw
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
