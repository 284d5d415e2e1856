"""Physical-plan assertions: correctness tests prove the WHAT, these
prove the HOW survives a 100× scale-up. Each assertion pins a plan
property that is the difference between O(selected) and O(everything)
at 100 TB — if a refactor regresses one (filter stops reaching the
scan, a dim stops broadcasting, a top-k becomes a global sort), these
fail before the cluster bill does.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from watermill_kinesis_spark.operators.relational import (
    join_broadcast,
    project_filter,
    q6_forecast_revenue,
    sort_limit_topk,
    topk_per_group,
)
from watermill_kinesis_spark.sources.tables import load_table


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_and_projection_reach_parquet_scan(spark, sf_dir):
    """project_filter: the quantity predicate must appear in
    PushedFilters and the scan must read only referenced columns."""
    plan = plan_of(project_filter(spark, sf_dir))
    assert "PushedFilters: [" in plan
    assert "l_quantity" in plan.split("PushedFilters")[1][:200]
    read_schema = plan.split("ReadSchema")[1][:400]
    assert "l_returnflag" not in read_schema  # unreferenced column pruned


def test_q6_fully_pushed_scan(spark, sf_dir):
    plan = plan_of(q6_forecast_revenue(spark, sf_dir))
    pushed = plan.split("PushedFilters")[1][:300]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed to scan"


def test_dimension_join_broadcasts(spark, sf_dir):
    """join_broadcast: both dims must go over BroadcastExchange — the
    fact side must NOT shuffle for the join."""
    plan = plan_of(join_broadcast(spark, sf_dir))
    assert plan.count("BroadcastExchange") >= 2
    assert "SortMergeJoin" not in plan


def test_global_topk_is_take_ordered_not_sort(spark, sf_dir):
    """ORDER BY + LIMIT must compile to TakeOrderedAndProject (per-
    partition heap + driver merge), never a global Sort+Exchange."""
    plan = plan_of(sort_limit_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_per_group_topk_uses_window_group_limit(spark, sf_dir):
    """row_number ≤ k must push a WindowGroupLimit below the shuffle so
    only k rows per group cross the exchange."""
    plan = plan_of(topk_per_group(spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_partition_pruned_read(spark, sf_dir, tmp_path):
    """A filter on a Hive partition column must become PartitionFilters
    (planning-time pruning), not a post-scan Filter."""
    ev = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "events_part")
    ev.select("event_id", "value", "event_type").write.partitionBy(
        "event_type"
    ).parquet(out)
    back = spark.read.parquet(out).where(F.col("event_type") == "click")
    plan = plan_of(back)
    pf = plan.split("PartitionFilters")[1][:200]
    assert "event_type" in pf


def test_semi_join_not_inner_join(spark, sf_dir):
    """EXISTS must stay a LeftSemi join (no row duplication)."""
    from watermill_kinesis_spark.operators.relational import join_semi

    assert "LeftSemi" in optimized_of(join_semi(spark, sf_dir))


def test_whole_stage_codegen_covers_agg(spark, sf_dir):
    """The Q1 aggregate pipeline must run inside WholeStageCodegen
    (inspected after execution — AQE only finalizes the plan then)."""
    from watermill_kinesis_spark.operators.relational import q1_pricing_summary

    import re

    df = q1_pricing_summary(spark, sf_dir)
    df.collect()
    plan = plan_of(df)
    # '*(n) ' prefixes mark whole-stage-codegen'd operators
    assert re.search(r"\*\(\d+\) HashAggregate", plan)


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Bucket-aligned fact-fact join: no shuffle on either join side —
    the write-time bucketing replaces the exchange."""
    from watermill_kinesis_spark.operators.formats import bucketed_join_colocated

    df = bucketed_join_colocated(spark, sf_dir)
    df.collect()
    plan = plan_of(df).split("== Initial Plan ==")[0]  # AQE final plan only
    assert "SortMergeJoin" in plan
    join_part = plan.split("SortMergeJoin")[1]
    # the aggregation above the join may shuffle; the scans below the
    # join must not — bucketed reads feed the join directly
    assert "Exchange hashpartitioning" not in join_part
    assert "Bucketed: true" in plan


def test_salted_join_spreads_hot_keys(spark, sf_dir):
    """The salted join must produce identical results to the plain
    join (oracle covers values); here: the salt column must appear in
    the join keys so hot keys split across tasks."""
    from watermill_kinesis_spark.operators.relational import join_skew_salted

    plan = optimized_of(join_skew_salted(spark, sf_dir))
    assert "salt" in plan


def test_q17_decorrelated_no_nested_loop(spark, sf_dir):
    """The correlated per-part AVG must run as groupBy+broadcast join —
    never a per-row nested-loop re-aggregation."""
    from watermill_kinesis_spark.operators.relational import q17_small_quantity_avg

    plan = plan_of(q17_small_quantity_avg(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastExchange") >= 2  # part dim + avg table


def test_q21_single_pass_no_self_join_explosion(spark, sf_dir):
    """The EXISTS/NOT-EXISTS pair is one aggregation + rejoin: exactly
    two lineitem scans (base + per-order stats), not three."""
    from watermill_kinesis_spark.operators.relational import q21_late_sole_supplier

    plan = plan_of(q21_late_sole_supplier(spark, sf_dir))
    assert plan.count("lineitem.parquet") <= 2
    assert "TakeOrderedAndProject" in plan  # top-10 never global-sorts


def test_tfidf_df_table_broadcasts(spark, sf_dir):
    """The vocabulary-sized document-frequency side must broadcast;
    only token aggregations may shuffle."""
    from watermill_kinesis_spark.operators.text import tfidf_top_terms

    plan = plan_of(tfidf_top_terms(spark, sf_dir))
    assert plan.count("BroadcastExchange") >= 2  # df_ + n_docs scalar


def test_sessionize_one_shuffle_for_windows_and_agg(spark, sf_dir):
    """Both window passes and the session aggregation share the
    user_id partitioning — exactly one exchange in the plan."""
    from watermill_kinesis_spark.operators.relational import sessionize_batch

    plan = plan_of(sessionize_batch(spark, sf_dir))
    import re

    n_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_exchanges == 1, f"expected 1 shuffle, plan has {n_exchanges}"


def test_sample_mod_filter_partition_local(spark, sf_dir):
    """Deterministic mod-sampling must not shuffle: filter + partial
    agg only, one exchange for the final 3-row groupBy."""
    from watermill_kinesis_spark.operators.pipeline import sample_stratified_mod

    plan = plan_of(sample_stratified_mod(spark, sf_dir))
    import re

    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_decontaminate_eval_grams_broadcast(spark, sf_dir):
    """The distinct eval-gram set (benchmark-sized at any corpus scale)
    must broadcast; the training corpus side must never be the build
    side of a shuffle join against it."""
    from watermill_kinesis_spark.operators.dedup import decontaminate_ngram

    plan = plan_of(decontaminate_ngram(spark, sf_dir))
    assert "BroadcastExchange" in plan
    assert "BroadcastHashJoin" in plan


def test_full_outer_joins_pre_aggregated_inputs(spark, sf_dir):
    """Both sides must aggregate to one row per customer BEFORE the
    full-outer join — the join input is |customers|, not |orders|."""
    from watermill_kinesis_spark.operators.relational import join_full_outer

    plan = plan_of(join_full_outer(spark, sf_dir))
    assert "FullOuter" in plan
    join_idx = plan.find("SortMergeJoin")
    if join_idx == -1:
        join_idx = plan.find("ShuffledHashJoin")
    assert join_idx != -1
    # aggregation must appear BELOW the join (later in the tree dump)
    below = plan[join_idx:]
    assert below.count("HashAggregate") >= 2


def test_corpus_shuffle_no_single_partition_bottleneck(spark, sf_dir):
    """Global shuffle positions must come from the bucketed two-pass
    index — never a single-partition global window (the classic
    driver-sized bottleneck at scale)."""
    from watermill_kinesis_spark.operators.pipeline import corpus_shuffle_hash

    plan = plan_of(corpus_shuffle_hash(spark, sf_dir))
    assert "SinglePartition" not in plan
    assert "BroadcastExchange" in plan  # the 256-row offset table


def test_window_range_frame_bounded_exchanges(spark, sf_dir):
    """The dedup groupBy and the RANGE window may not multiply
    shuffles: at most two exchanges total (collapse + frame)."""
    import re

    from watermill_kinesis_spark.operators.relational import window_range_frame

    plan = plan_of(window_range_frame(spark, sf_dir))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 2


def test_stats_moments_single_shuffle_no_welford(spark, sf_dir):
    """stats_moments: the moment statistics must come from exact
    integer sums merged in ONE map-side-combined aggregation — no
    builtin stddev/corr (Welford partials merge in shuffle-arrival
    order → nondeterministic low bits), and no second shuffle for the
    derived columns."""
    from watermill_kinesis_spark.operators.relational import stats_moments

    df = stats_moments(spark, sf_dir)
    plan = plan_of(df)
    assert "stddev(" not in plan and "stddev_samp(" not in plan
    assert "corr(" not in plan
    assert plan.count("Exchange") == 1
    assert "partial_sum" in plan  # map-side combine before the shuffle


def test_bloom_probe_filters_before_confirm_join(spark, sf_dir):
    """decontaminate_bloom: the bloom-probe Filter (shift/mask over the
    array literal) must sit below the confirm join on the corpus side
    — candidates shrink BEFORE any join — and the confirm join must
    broadcast the eval-gram set, never shuffle the corpus."""
    from watermill_kinesis_spark.operators.dedup import decontaminate_bloom

    plan = plan_of(decontaminate_bloom(spark, sf_dir))
    assert "shiftright" in plan  # the probe expressions survived codegen
    assert "BroadcastHashJoin" in plan
    join_pos = plan.index("BroadcastHashJoin")
    assert "shiftright" in plan[join_pos:]  # probe is BELOW the join


def test_ewma_single_shuffle(spark, sf_dir):
    """ewma_halflife: 16 LAG terms + row_number over the SAME window
    spec must share one shuffle on the key and one Window node."""
    import re

    from watermill_kinesis_spark.operators.windows import ewma_halflife

    plan = plan_of(ewma_halflife(spark, sf_dir))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert plan.count("Window") <= 2  # one Window exec (+AQE shuffle read)


def test_mode_agg_prunes_through_window_group_limit(spark, sf_dir):
    """mode_agg: the rank-1 filter over the counts aggregate must
    compile to WindowGroupLimit (rows pruned before the window sort
    materializes full per-group lists)."""
    from watermill_kinesis_spark.operators.relational import mode_agg

    plan = plan_of(mode_agg(spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_levenshtein_join_is_equi_not_cartesian(spark, sf_dir):
    """dedup_levenshtein: candidate generation must be an equi-join on
    the prefix block — never a nested-loop/cartesian over documents."""
    from watermill_kinesis_spark.operators.dedup import dedup_levenshtein

    plan = plan_of(dedup_levenshtein(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_zorder_single_aggregate_shuffle(spark, sf_dir):
    """zorder_layout: the z-value is a projection; the only exchange is
    the |buckets| aggregate, with map-side partial aggregation."""
    import re

    from watermill_kinesis_spark.operators.formats import zorder_layout

    plan = plan_of(zorder_layout(spark, sf_dir))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert "partial_" in plan


def test_connected_components_no_forced_edge_broadcast(spark):
    """The CC sweep's neighbor join must NOT carry a broadcast HINT on
    the edge relation: the near-dup edge set is corpus-dependent and
    unbounded, so a forced broadcast OOMs every executor at 100 TB.
    (AQE may still *choose* a broadcast at runtime when edges fit —
    that's fine; the hint in the logical plan is what's banned.)"""
    from pyspark.sql import Row

    from watermill_kinesis_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([Row(doc_id=i) for i in range(6)])
    edges = spark.createDataFrame(
        [Row(doc_a=a, doc_b=b) for a, b in [(0, 1), (1, 0), (2, 3), (3, 2)]]
    )
    # one sweep's neighbor join is enough to see the hint; run the full
    # op and inspect the *analyzed* logical plan for ResolvedHint
    labels = connected_components(nodes, edges)
    logical = labels._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in logical
    # and it still computes the right components
    got = {r.doc_id: r.comp for r in labels.collect()}
    assert got == {0: 0, 1: 0, 2: 2, 3: 2, 4: 4, 5: 5}


def test_no_red_flags_in_r4_added_plans(spark, sf_dir):
    """The r4/r5 audit extension (tools/plan_audit.py now sweeps the
    whole registry): the newest entries are where plan regressions
    land — assert the red-flag predicates stay empty on a spread of
    them, including the two scalar-subquery shapes whose 1-row
    BroadcastNestedLoopJoin build side is benign by design."""
    from tools.plan_audit import _bad_nested_loop, _bad_single_partition

    from watermill_kinesis_spark.registry import all_specs

    specs = all_specs()
    for name in (
        "scalar_subquery_above_avg",
        "q22_global_filter",
        "split_leakage_audit",
        "watermark_droprate_table",
        "udf_scalar_arrow_optimized",
        "bpe_train_merges",
        "semdedup_centroid_prune",
        "token_length_histogram_log2",
    ):
        plan = (
            specs[name]
            .fn(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert not _bad_single_partition(plan), f"{name}: bad single-partition"
        assert not _bad_nested_loop(plan), f"{name}: bad nested loop"


def test_enum_window_guard_catches_prefix_shape(spark, sf_dir):
    """Round-7 guard (VERDICT r6 What's-wrong #3): rebuild the exact
    PRE-fix shapes of the six re-planned operators — a rank / NTILE /
    cumulative window partitioned by a fixed 5-value enum over raw
    rows — and assert `_bad_enum_window` trips on every one (the r6
    audit columns let all six through with '0 red flags'). Then the
    benign case: the same enum partition over PRE-AGGREGATED input
    (bounded rows per group) must NOT trip."""
    from pyspark.sql import Window as W

    from tools.plan_audit import _bad_enum_window

    o = load_table(spark, sf_dir, "orders")
    ev = load_table(spark, sf_dir, "events")

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    prefix_shapes = {
        # auc_roc_exact r6: rank over 5 priority partitions of raw rows
        "auc_rank": o.select(
            "o_orderpriority",
            F.rank()
            .over(W.partitionBy("o_orderpriority").orderBy("o_totalprice"))
            .alias("r"),
        ),
        # calibration/gains r6: NTILE over the same raw partitions
        "ntile": o.select(
            "o_orderpriority",
            F.ntile(10)
            .over(
                W.partitionBy("o_orderpriority").orderBy(
                    "o_totalprice", "o_orderkey"
                )
            )
            .alias("b"),
        ),
        # spearman r6: two rank windows over raw rows
        "spearman": o.select(
            F.rank()
            .over(
                W.partitionBy("o_orderpriority").orderBy(
                    "o_totalprice", "o_orderkey"
                )
            )
            .alias("rx"),
            F.rank()
            .over(
                W.partitionBy("o_orderpriority").orderBy(
                    "o_orderdate", "o_orderkey"
                )
            )
            .alias("ry"),
        ),
        # runs_test r6: lag over 5 event_type partitions of raw rows
        "runs_lag": ev.select(
            "event_type",
            F.lag("value")
            .over(W.partitionBy("event_type").orderBy("ts", "event_id"))
            .alias("prev"),
        ),
        # cusum r6: cumulative sum over event_type partitions, raw rows
        "cusum": ev.select(
            "event_type",
            F.sum("value")
            .over(
                W.partitionBy("event_type")
                .orderBy("ts", "event_id")
                .rowsBetween(W.unboundedPreceding, W.currentRow)
            )
            .alias("c"),
        ),
        # UNORDERED enum window (mad_robust_stats' old n-per-group):
        # prints only TWO bracket groups (empty order spec elided) —
        # the r7 review found the first guard version skipped these
        "count_unordered": ev.select(
            "event_type",
            F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("n"),
        ),
    }
    for name, df in prefix_shapes.items():
        assert _bad_enum_window(plan(df)), f"{name}: pre-fix shape not caught"

    # benign: enum-partitioned window whose input is pre-aggregated —
    # cumulative_gains' remaining windows run over 10 rows per group
    per_bin = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    bounded = per_bin.select(
        "event_type",
        F.sum("n")
        .over(W.partitionBy("event_type").orderBy("n"))
        .alias("cum"),
    )
    assert not _bad_enum_window(plan(bounded))
    # and a window partitioned by a DATA-scaled key stays clean
    by_user = ev.select(
        F.row_number()
        .over(W.partitionBy("user_id").orderBy("ts"))
        .alias("rn")
    )
    assert not _bad_enum_window(plan(by_user))


def test_replanned_operators_pass_enum_window_guard(spark, sf_dir):
    """The six re-planned operators (plus the binned KS) must stay
    clean under the new guard: their local windows partition by
    (slice, group) — never by the enum alone over raw rows."""
    from tools.plan_audit import _bad_enum_window

    from watermill_kinesis_spark.registry import all_specs

    specs = all_specs()
    for name in (
        "auc_roc_exact",
        "calibration_bins_exact",
        "cumulative_gains_deciles",
        "spearman_rank_corr_exact",
        "runs_test_shuffle_audit",
        "cusum_changepoint",
        "ks_drift_matrix",
    ):
        plan = (
            specs[name]
            .fn(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert not _bad_enum_window(plan), f"{name}: enum window survived"


def test_r6_additions_stay_red_flag_free(spark, sf_dir):
    """Round-6 plan guards: the evaluation family's rank windows are
    group-partitioned (no data-scale single-partition exchange), the
    KS pair expansion uses broadcast equi-joins (no nested loop), the
    PPJoin graph query forms pairs only through prefix tokens, and
    RRF's per-group top-k compiles to WindowGroupLimit."""
    from tools.plan_audit import _bad_nested_loop, _bad_single_partition

    from watermill_kinesis_spark.registry import all_specs

    specs = all_specs()
    for name in (
        "auc_roc_exact",
        "ks_drift_matrix",
        "gini_corpus_inequality",
        "calibration_bins_exact",
        "quantile_normalization",
        "content_addressed_ids",
        "graph_jaccard_neighbors",
        "hybrid_rank_fusion_rrf",
        "embedding_matryoshka_audit",
    ):
        plan = (
            specs[name]
            .fn(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert not _bad_single_partition(plan), f"{name}: bad single-partition"
        assert not _bad_nested_loop(plan), f"{name}: bad nested loop"
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    # RRF's per-group cutoff short-circuits inside the window
    rrf_plan = (
        specs["hybrid_rank_fusion_rrf"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in rrf_plan


def test_big_literal_guard_catches_prefix_bloom_shape(spark, sf_dir):
    """Round-8 guard (VERDICT r7 What's-wrong #1/#2): the pre-fix
    bloom_fpp_audit collected its packed bloom into a plan literal
    sized 16 bits per distinct member — rebuild that shape with an
    over-budget array and assert `_bad_big_literal` trips; then assert
    the post-fix paths stay clean: the current bloom_fpp_audit and
    decontaminate_bloom plans (bounded literals), and the over-budget
    distributed-probe plan (no literal at all)."""
    from tools.plan_audit import BIG_LITERAL_ELEMS, ITERATIVE, _bad_big_literal

    import watermill_kinesis_spark.operators.dedup as dedup
    from watermill_kinesis_spark.registry import all_specs

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    probe = spark.range(16).select(F.col("id").cast("string").alias("key"))
    # pre-r8 shape: dense literal regardless of member cardinality
    n_words = BIG_LITERAL_ELEMS * 2
    bloom = F.lit([0] * n_words)
    prefix = probe.withColumn(
        "w0",
        F.element_at(
            bloom,
            (F.pmod(F.xxhash64("key"), F.lit(n_words))).cast("int") + 1,
        ),
    )
    assert _bad_big_literal(plan(prefix)), "pre-fix bloom shape must trip"

    specs = all_specs()
    for name in ("bloom_fpp_audit", "decontaminate_bloom"):
        assert not _bad_big_literal(
            plan(specs[name].fn(spark, sf_dir))
        ), f"{name}: oversized plan literal"

    # over-budget strategy: distributed probe, zero plan literal
    members = spark.range(64).select(F.col("id").cast("string").alias("key"))
    words = dedup._bloom_words(members, "key", dedup.BLOOM_BITS)
    orig = dedup.BLOOM_LITERAL_BUDGET_BYTES
    dedup.BLOOM_LITERAL_BUDGET_BYTES = 0
    try:
        dist_plan = plan(dedup._bloom_hit(words, probe, "key", dedup.BLOOM_BITS))
    finally:
        dedup.BLOOM_LITERAL_BUDGET_BYTES = orig
    assert not _bad_big_literal(dist_plan)
    assert "element_at" not in dist_plan

    # the iterative annotation covers exactly the power-method pair
    assert set(ITERATIVE) == {"pagerank_mass_audit", "pagerank_bipartite"}


def test_bloom_literal_budget_inside_big_literal_threshold(spark):
    """The dense-literal budget and the plan-audit red-flag threshold
    were introduced together and MUST agree: every bloom the budget
    sanctions as a plan literal stays at or under the element ceiling
    the audit flags (review finding: a 4 MiB budget with a 16384-long
    flag would make mid-size blooms trip the repo's own gate)."""
    from tools.plan_audit import BIG_LITERAL_ELEMS

    from watermill_kinesis_spark.operators.dedup import BLOOM_LITERAL_BUDGET_BYTES

    assert BLOOM_LITERAL_BUDGET_BYTES // 8 <= BIG_LITERAL_ELEMS


def test_driver_fold_internal_stages_stay_red_flag_free(spark, sf_dir):
    """auc_roc_exact and bm25_topk fold bounded collects driver-side,
    so PLANS.md's rows for them show only the post-fold local relation
    (annotated ⊙). THIS test pins their real distributed stages: the
    AUC slice-stats stage must be one range exchange feeding an Arrow
    kernel; the BM25 stage must broadcast its scalar stats and rank
    via TakeOrderedAndProject — and neither may carry any red-flag
    shape (r8 review finding: eager collects otherwise blind the plan
    audit to regressions in these operators)."""
    from tools.plan_audit import (
        DRIVER_FOLD,
        _bad_big_literal,
        _bad_enum_window,
        _bad_nested_loop,
        _bad_single_partition,
    )

    from watermill_kinesis_spark.operators.evaluation import _auc_slice_stats
    from watermill_kinesis_spark.operators.retrieval import (
        _bm25_scored_topk,
        _tf_scored_topk,
    )

    assert set(DRIVER_FOLD) == {
        "auc_roc_exact",
        "bm25_topk",
        "rank_biased_overlap_exact",
    }

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    auc = plan(_auc_slice_stats(spark, sf_dir))
    assert "Exchange rangepartitioning" in auc
    assert "MapInPandas" in auc
    bm25 = plan(_bm25_scored_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in bm25
    assert "BroadcastNestedLoopJoin" in bm25 or "BroadcastExchange" in bm25
    tfr = plan(_tf_scored_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in tfr
    for name, p in (("auc", auc), ("bm25", bm25), ("tfr", tfr)):
        if name == "bm25":
            # the scalar-agg broadcast IS a 1-row nested-loop build —
            # the benign case _bad_nested_loop already whitelists
            assert not _bad_nested_loop(p), f"{name}: bad nested loop"
        assert not _bad_single_partition(p), f"{name}: bad single-partition"
        assert not _bad_enum_window(p), f"{name}: enum window"
        assert not _bad_big_literal(p), f"{name}: big literal"


def test_dict_broadcast_guard_catches_prefix_novelty_shape(spark, sf_dir):
    """Round-10 guard (VERDICT r9 task 2): the pre-fix
    ngram_novelty_score joined its (doc, gram) relation back against
    the gram→min(doc) firsts table ON THE GRAM STRING, and AQE's
    compressed-size estimate elected to broadcast the corpus-growing
    gram dictionary — a driver OOM at the 10× replica that the sf0.1
    gate fit by luck. Rebuild that exact join shape and assert
    `_corpus_dict_broadcast` trips; then assert the benign faces stay
    clean — a bounded top-K vocab broadcast (GlobalLimit/TakeOrdered
    in the build side), a fixed-dim broadcast (nation), an inner
    dictionary aggregate that collapses to a bounded rollup before
    broadcasting (the Kneser-Ney/vocab-Jaccard shape) — and that every
    operator re-planned or pinned for this class audits clean."""
    from tools.plan_audit import _corpus_dict_broadcast

    from watermill_kinesis_spark.registry import all_specs

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    starts = F.sequence(F.lit(1), F.size("t") - 2)
    g = (
        d.select("doc_id", toks.alias("t"))
        .where(F.size("t") >= 3)
        .select("doc_id", F.explode(starts).alias("i"), "t")
        .select(
            "doc_id",
            F.array_join(F.slice("t", F.col("i"), 3), " ").alias("gram"),
        )
        .distinct()
    )
    firsts = g.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    # the PRE-fix shape: instances joined back on the gram string,
    # dictionary side explicitly broadcast (AQE's runtime election,
    # made static so the guard sees the same plan at any test scale)
    bad = (
        g.join(F.broadcast(firsts), "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    hits = _corpus_dict_broadcast(plan(bad))
    assert hits and "gram" in hits[0], "pre-fix novelty shape must trip"

    # benign: top-K vocab IS bounded — limit below the broadcast
    topk = (
        d.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("tok"))
        .limit(100)
    )
    probe = d.select(F.explode(toks).alias("tok")).join(
        F.broadcast(topk), "tok"
    )
    assert not _corpus_dict_broadcast(plan(probe)), "bounded top-K trips"

    # benign: fixed 25-row dim broadcast
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    dim = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    assert not _corpus_dict_broadcast(plan(dim)), "nation dim trips"

    # benign: inner token aggregate collapsing to a bounded-enum
    # rollup before the broadcast (the vocab_jaccard shape)
    vocab_per_source = (
        d.select("source", F.explode(toks).alias("tok"))
        .distinct()
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    rolled = c.crossJoin(F.broadcast(vocab_per_source))
    assert not _corpus_dict_broadcast(plan(rolled)), "bounded rollup trips"

    # the re-planned / pinned operators audit clean
    specs = all_specs()
    for name in (
        "ngram_novelty_score",
        "dedup_paragraph",
        "stupid_backoff_score",
        "unigram_freq_score",
        "token_dispersion_stats",
        "collocation_pmi",
        "kneser_ney_continuation",
        "vocab_jaccard_sources",
        "good_turing_discounts",
        "heavy_hitters_audit",
    ):
        p = plan(specs[name].fn(spark, sf_dir))
        assert not _corpus_dict_broadcast(p), f"{name}: dict broadcast"


def test_fact_key_broadcast_guard_catches_ria_shape(spark, sf_dir):
    """Round-11 guard (VERDICT r10 task 2): the pre-9fca7f6
    referential_integrity_audit let AQE elect to broadcast the ORDERS
    key relation inside its anti-join stack — a fact-table KEY
    PROJECTION whose deserialized hash relation grows with the corpus
    (the 10× sweep OOM'd a vanilla 1 GiB driver on it at runtime).
    Rebuild that exact anti-join shape and assert
    `_fact_key_broadcast` trips — both with the broadcast made static
    (scale-independent plan) and as the sf-scale statically-elected
    BroadcastHashJoin the unpinned form compiles to at test scale —
    then assert the benign faces stay clean: a filtered-dim key
    broadcast (the filter column rides the parquet ReadSchema), a
    fixed-dim broadcast (nation), a bounded key probe (doc_id ≤ k),
    a scalar-collapsed build side, and the merge-pinned operator
    itself."""
    from tools.plan_audit import _fact_key_broadcast

    from watermill_kinesis_spark.registry import all_specs

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")

    # the PRE-fix shape, broadcast pinned static so the guard sees the
    # same plan at any test scale
    bad = o.join(F.broadcast(li), o.o_orderkey == li.l_orderkey, "left_anti")
    hits = _fact_key_broadcast(plan(bad))
    assert hits and "lineitem" in hits[0], "pre-fix RIA shape must trip"

    # the UNPINNED form: at sf-scale the static planner itself elects
    # the broadcast (the same election AQE makes at runtime at 10×)
    unpinned = o.join(li, o.o_orderkey == li.l_orderkey, "left_anti")
    p_unpinned = plan(unpinned)
    if "BroadcastExchange" in p_unpinned:  # stats-dependent, but loud
        assert _fact_key_broadcast(p_unpinned), "unpinned RIA shape must trip"

    # benign: filtered dim — the pushed filter column stays in the
    # parquet ReadSchema, so this is never a bare key projection
    c = load_table(spark, sf_dir, "customer")
    dim = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    ben = o.join(F.broadcast(dim), o.o_custkey == dim.c_custkey)
    assert not _fact_key_broadcast(plan(ben)), "filtered dim trips"

    # benign: fixed 25-row dim
    n = load_table(spark, sf_dir, "nation")
    ben2 = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    assert not _fact_key_broadcast(plan(ben2)), "nation dim trips"

    # benign: bounded key probe (benchmark-sample cap on the key)
    d = load_table(spark, sf_dir, "documents")
    probe = d.where(F.col("doc_id") <= 100).select("doc_id")
    ben3 = d.join(F.broadcast(probe), "doc_id")
    assert not _fact_key_broadcast(plan(ben3)), "bounded key probe trips"

    # benign: scalar-collapsed build side (broadcast filter, 1 row)
    mx = li.agg(F.max("l_orderkey").alias("mk"))
    ben4 = o.join(F.broadcast(mx), o.o_orderkey == F.col("mk"))
    assert not _fact_key_broadcast(plan(ben4)), "scalar agg build trips"

    # the merge-pinned operator audits clean (and broadcasts nothing)
    specs = all_specs()
    p = plan(specs["referential_integrity_audit"].fn(spark, sf_dir))
    assert not _fact_key_broadcast(p), "pinned RIA trips"
