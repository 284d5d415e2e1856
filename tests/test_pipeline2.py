"""Tests for the table catalog (memoization) and for the quality-filter
funnel (pipeline), PII redaction (text), embedding normalization
(similarity) and incremental rollup (windows)."""

from __future__ import annotations

from pyspark.sql import functions as F

from watermill_kinesis_spark.registry import queries
from watermill_kinesis_spark.sources.tables import load_table


def test_load_table_memoized(spark, sf_dir):
    a = load_table(spark, sf_dir, "orders")
    b = load_table(spark, sf_dir, "orders")
    assert a is b  # same logical plan instance — no repeated footer reads


def test_self_join_after_memoization(spark, sf_dir):
    """q8 joins nation twice from the memoized catalog; the aliased
    projection must keep the plan analyzable (regression: ambiguous
    attribute error when both sides share one plan instance)."""
    out = queries()["q8_market_share"](spark, sf_dir)
    assert out.columns == ["o_year", "mkt_share"]
    assert out.count() >= 1


def test_quality_filter_funnel_monotone(spark, sf_dir):
    rows = queries()["quality_filter_pipeline"](spark, sf_dir).collect()
    assert rows, "funnel returned no sources"
    for r in rows:
        assert r.n_input >= r.n_pass_filters >= r.n_after_dedup >= 0


def test_pii_redact_scrubs_all_planted_pii(spark, sf_dir):
    out = queries()["pii_redact"](spark, sf_dir)
    # every doc got exactly one planted email and one planted phone...
    counts = out.agg(
        F.min("n_emails").alias("e_min"),
        F.max("n_emails").alias("e_max"),
        F.min("n_phones").alias("p_min"),
        F.max("n_phones").alias("p_max"),
    ).collect()[0]
    assert (counts.e_min, counts.e_max) == (1, 1)
    assert (counts.p_min, counts.p_max) == (1, 1)
    # ...and the redacted text carries placeholders, never raw PII shapes
    leftovers = out.where(
        F.col("redacted").rlike(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
        | F.col("redacted").rlike(r"\(\d{3}\) \d{3}-\d{4}")
    ).count()
    assert leftovers == 0
    assert out.where(~F.col("redacted").contains("<EMAIL>")).count() == 0


def test_embedding_normalize_unit_norm(spark, sf_dir):
    out = queries()["embedding_normalize"](spark, sf_dir)
    # q8 codes bounded by the int8 range; norm strictly positive
    # (q8 arrives as a comma-joined string — the driver's canonicalizer
    # cannot hash top-level list cells — so split it back for the check)
    q8 = F.transform(F.split("q8", ","), lambda x: x.cast("int"))
    stats = out.select(
        F.min("l2_norm").alias("n_min"),
        F.max(F.array_max(q8)).alias("q_max"),
        F.min(F.array_min(q8)).alias("q_min"),
    ).collect()[0]
    assert stats.n_min > 0
    assert stats.q_max <= 127
    assert stats.q_min >= -128


def test_rollup_incremental_matches_direct_daily(spark, sf_dir):
    """The hourly→daily re-aggregation must equal a direct daily agg
    (counts and exact-cent sums are losslessly re-aggregable)."""
    from watermill_kinesis_spark.functions.exact import dsum

    ev = load_table(spark, sf_dir, "events")
    direct = {
        r.day: (r.n, r.s)
        for r in ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("s"))
        .collect()
    }
    rolled = queries()["rollup_incremental"](spark, sf_dir).collect()
    assert len(rolled) == len(direct)
    for r in rolled:
        n, s = direct[r.day]
        assert r.n_events == n
        assert r.sum_value == s
