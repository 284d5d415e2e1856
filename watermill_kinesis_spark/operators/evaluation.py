"""Model/data evaluation metrics — the measurement half of a training
pipeline: ranking quality (exact AUC), distribution drift (exact
Kolmogorov–Smirnov matrix), corpus inequality (exact Gini), the
chi-square statistic completing ``crosstab_expected``'s promise,
probability calibration bins, deterministic k-fold assignment, content
addressing, and a closed-form regression fit from distributed sums.

Every metric that reaches the oracle hash is INTEGER arithmetic
(permille / micro scaling with integer division), so Spark and DuckDB
agree bit-for-bit with no float-accumulation-order hazard — the same
determinism discipline as analytics.py / frequency.py. Integer
division is SQL ``div`` on Spark and ``//`` in the oracle — BOTH
truncate toward zero (verified on negatives: −7÷2 → −3 on each), so
signed quotients like a below-chance kappa are exact and identical;
only Python's flooring ``//`` differs, which the brute-force tests
account for. Wide intermediates go through decimal(38,0) on Spark and
HUGEINT in the oracle, both exact to 10^38.

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
from watermill_kinesis_spark.functions.localrel import local_relation
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
    it replaced (r8 review finding). Sums ride unbounded Python ints."""
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
