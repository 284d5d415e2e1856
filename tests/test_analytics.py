"""Semantics + plan tests for event-time operators (windows: gap-fill,
z-score anomalies, islands, funnels, retention), text (repetition,
n-gram counts), pipeline (domain mix), relational (merge/upsert) and
frequency (mergeable HLL sketch)."""

from __future__ import annotations

from pyspark.sql import functions as F

from watermill_kinesis_spark.registry import queries
from watermill_kinesis_spark.sources.tables import load_table


def test_gapfill_grid_is_dense_and_lossless(spark, sf_dir):
    out = queries()["timeseries_gapfill"](spark, sf_dir).cache()
    try:
        n_hours = out.select("hour").distinct().count()
        n_types = out.select("event_type").distinct().count()
        assert out.count() == n_hours * n_types  # dense grid, no holes
        # zero-filled cells exist (the point of gap-filling)...
        assert out.where(F.col("n_events") == 0).count() > 0
        # ...and the filled series still sums to the raw totals
        ev = load_table(spark, sf_dir, "events")
        assert (
            out.agg(F.sum("n_events")).first()[0] == ev.count()
        )
    finally:
        out.unpersist()


def test_anomaly_zscore_flags_are_actual_outliers(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    flagged = queries()["anomaly_zscore"](spark, sf_dir)
    # every flagged value is beyond 2.5 sigma of a float recomputation
    # (loose bound: the operator uses exact 3-sigma arithmetic)
    stats = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(F.avg("value").alias("mu"), F.stddev_pop("value").alias("sd"))
        .collect()
    }
    rows = flagged.collect()
    assert rows, "expected at least one 3-sigma outlier in testdata"
    for r in rows:
        s = stats[r["event_type"]]
        assert abs(r["value"] - s["mu"]) > 2.5 * s["sd"]


def test_anomaly_zscore_no_fact_shuffle(spark, sf_dir):
    """The stats side must broadcast: the events scan feeds the join
    without an Exchange hashpartitioning on the fact side."""
    plan = queries()["anomaly_zscore"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_repetition_ratio_bounds(spark, sf_dir):
    out = queries()["repetition_ratio"](spark, sf_dir)
    bad = out.where(
        (F.col("rep_ratio") < 0)
        | (F.col("rep_ratio") >= 1)
        | (F.col("n_distinct") > F.col("n_tokens"))
    )
    assert bad.count() == 0
    # synthetic docs repeat heavily — the filter family has signal here
    assert out.where(F.col("rep_ratio") > 0.5).count() > 0


def test_ngram_counts_descending_unique(spark, sf_dir):
    rows = queries()["ngram_lm_counts"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 50
    counts = [r["n"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert len({r["bigram"] for r in rows}) == len(rows)


def test_domain_mix_weights_form_a_distribution(spark, sf_dir):
    rows = queries()["domain_mix_weights"](spark, sf_dir).collect()
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-9
    # weight × share = uniform target for every domain
    for r in rows:
        assert abs(r["mix_weight"] * r["share"] - 1.0 / len(rows)) < 1e-12


def test_merge_upsert_equals_direct_recompute(spark, sf_dir):
    """Incremental base+delta merge must equal latest-per-key over all
    history (changelog_compact restricted to the same columns)."""
    merged = queries()["merge_upsert_state"](spark, sf_dir)
    direct = (
        queries()["changelog_compact"](spark, sf_dir)
        .select(
            "user_id",
            F.col("last_ts"),
            "last_event_type",
            "last_value",
        )
    )
    assert merged.exceptAll(direct).count() == 0
    assert direct.exceptAll(merged).count() == 0


def test_islands_are_maximal_and_disjoint(spark, sf_dir):
    rows = (
        queries()["interval_consolidate"](spark, sf_dir)
        .orderBy("user_id", "island_start")
        .collect()
    )
    assert rows
    by_user: dict = {}
    for r in rows:
        assert r["island_start"] < r["island_end"]
        assert r["n_events"] >= 1
        prev = by_user.get(r["user_id"])
        if prev is not None:
            # disjoint AND separated (else they'd have merged)
            assert r["island_start"] > prev
        by_user[r["user_id"]] = r["island_end"]


def test_funnel_stages_monotone_decreasing(spark, sf_dir):
    rows = {
        r["stage"]: r["n_users"]
        for r in queries()["funnel_analysis"](spark, sf_dir).collect()
    }
    assert set(rows) == {1, 2, 3}
    assert rows[1] >= rows[2] >= rows[3]
    assert rows[1] > 0


def test_retention_cohort_day0_equals_cohort_size(spark, sf_dir):
    out = queries()["retention_cohort"](spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    # offset-0 cell of each cohort == number of users first seen that day
    day0 = {
        r["cohort_day"]: r["n_users"]
        for r in out.where(F.col("day_offset") == 0).collect()
    }
    firsts = (
        ev.groupBy("user_id")
        .agg(F.date_trunc("day", F.min("ts")).alias("cohort_day"))
        .groupBy("cohort_day")
        .count()
        .collect()
    )
    for r in firsts:
        assert day0[r["cohort_day"]] == r["count"]
    assert out.where(F.col("day_offset") < 0).count() == 0


def test_hll_sketch_tracks_exact_distinct(spark, sf_dir):
    approx = {
        r["day"]: r["approx_users"]
        for r in queries()["sketch_distinct_mergeable"](spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    exact = {
        r["day"]: r["n"]
        for r in ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for day, n in exact.items():
        assert abs(approx[day] - n) <= max(2, 0.05 * n)  # HLL error bound
