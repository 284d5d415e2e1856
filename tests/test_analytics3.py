"""Invariant tests for relational (mode, bitwise/bool, skew/kurtosis
aggregates) and windows (running distinct, EWMA, as-of joins) operators.

The DuckDB oracle pins exact values; these tests pin the semantics the
hash can't express — structural invariants that must hold for any input."""

import math

from pyspark.sql import Window as W, functions as F

from watermill_kinesis_spark.operators.windows import ASOF_TOLERANCE_DAYS, EWMA_K
from watermill_kinesis_spark.registry import queries
from watermill_kinesis_spark.sources.tables import load_table


def test_mode_agg_is_the_true_argmax(spark, sf_dir):
    out = {r["l_returnflag"]: r for r in queries()["mode_agg"](spark, sf_dir).collect()}
    li = load_table(spark, sf_dir, "lineitem")
    counts = (
        li.groupBy("l_returnflag", F.col("l_quantity").cast("bigint").alias("q"))
        .count()
        .collect()
    )
    best: dict[str, tuple[int, int]] = {}
    for r in counts:
        cur = best.get(r["l_returnflag"])
        cand = (-r["count"], r["q"])
        if cur is None or cand < cur:
            best[r["l_returnflag"]] = cand
    assert set(out) == set(best)
    for flag, (neg_cnt, q) in best.items():
        assert out[flag]["mode_quantity"] == q
        assert out[flag]["mode_count"] == -neg_cnt


def test_bitwise_bool_aggregate_identities(spark, sf_dir):
    rows = queries()["agg_bitwise_bool"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        # AND ⊆ OR bit-wise; conditional count is non-negative
        assert r["users_bit_and"] & r["users_bit_or"] == r["users_bit_and"]
        assert r["n_over_100"] >= 0
        assert isinstance(r["all_nonneg"], bool) and isinstance(r["any_large"], bool)


def test_skew_kurt_match_numpy_formulas(spark, sf_dir):
    import numpy as np

    li = load_table(spark, sf_dir, "lineitem")
    sample = {
        r["l_returnflag"]: None for r in queries()["agg_skew_kurt"](spark, sf_dir).collect()
    }
    out = {r["l_returnflag"]: r for r in queries()["agg_skew_kurt"](spark, sf_dir).collect()}
    for flag in sample:
        q = np.array(
            [
                r["l_quantity"]
                for r in li.where(F.col("l_returnflag") == flag)
                .select("l_quantity")
                .collect()
            ]
        )
        m = q.mean()
        m2 = ((q - m) ** 2).mean()
        skew = ((q - m) ** 3).mean() / m2**1.5
        kurt = ((q - m) ** 4).mean() / m2**2 - 3.0
        assert math.isclose(out[flag]["mean_qty"], m, rel_tol=1e-9)
        assert math.isclose(out[flag]["skew_qty"], skew, rel_tol=1e-6, abs_tol=1e-9)
        assert math.isclose(out[flag]["kurt_qty"], kurt, rel_tol=1e-6, abs_tol=1e-9)


def test_window_count_distinct_is_monotone_and_ends_at_total(spark, sf_dir):
    out = queries()["window_count_distinct"](spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    finals = (
        out.groupBy("event_type")
        .agg(F.max("distinct_users_so_far").alias("final"))
        .collect()
    )
    truth = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for r in finals:
        assert r["final"] == truth[r["event_type"]]


def test_ewma_bounded_and_equals_value_at_first_event(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    lo, hi = ev.agg(F.min("value"), F.max("value")).first()
    out = queries()["ewma_halflife"](spark, sf_dir).cache()
    try:
        # EWMA is a convex combination of observed values
        assert out.where(
            (F.col("ewma_value") < lo - 1e-9) | (F.col("ewma_value") > hi + 1e-9)
        ).count() == 0
        # first event per user: EWMA == value (within cents rounding)
        w = W.partitionBy("user_id").orderBy("ts", "event_id")
        first_ids = (
            ev.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("event_id", "value")
        )
        j = out.join(first_ids, "event_id")
        bad = j.where(F.abs(F.col("ewma_value") - F.col("value")) > 0.005)
        assert bad.count() == 0
    finally:
        out.unpersist()


def test_asof_tolerance_is_a_filtered_asof(spark, sf_dir):
    tol = queries()["join_asof_tolerance"](spark, sf_dir).cache()
    base = queries()["join_asof_events"](spark, sf_dir).cache()
    try:
        ev = load_table(spark, sf_dir, "events")
        assert tol.count() == ev.count()
        j = base.select(
            "event_id",
            F.col("asof_orderkey").alias("base_key"),
            F.col("asof_orderdate").alias("base_date"),
        ).join(tol, "event_id")
        ev_ts = ev.select("event_id", "ts")
        j = j.join(ev_ts, "event_id")
        # where the tolerance kept a match it must be the SAME order the
        # unbounded as-of found, and it must be fresh
        kept = j.where(F.col("asof_orderkey").isNotNull())
        assert kept.where(F.col("asof_orderkey") != F.col("base_key")).count() == 0
        assert (
            kept.where(
                F.col("asof_orderdate")
                < F.col("ts") - F.expr(f"INTERVAL {ASOF_TOLERANCE_DAYS} DAY")
            ).count()
            == 0
        )
        # where it nulled, the base match (if any) must be stale
        dropped = j.where(
            F.col("asof_orderkey").isNull() & F.col("base_key").isNotNull()
        )
        assert (
            dropped.where(
                F.col("base_date")
                >= F.col("ts") - F.expr(f"INTERVAL {ASOF_TOLERANCE_DAYS} DAY")
            ).count()
            == 0
        )
    finally:
        tol.unpersist()
        base.unpersist()


def test_ewma_truncation_window_is_respected(spark, sf_dir):
    """Events beyond the EWMA_K-row frame must not influence the value:
    recompute the truncated expansion in pure Python for one user."""
    ev = load_table(spark, sf_dir, "events")
    uid = ev.groupBy("user_id").count().orderBy(F.desc("count")).first()["user_id"]
    hist = (
        ev.where(F.col("user_id") == uid)
        .orderBy("ts", "event_id")
        .select("event_id", "value")
        .collect()
    )
    out = {
        r["event_id"]: r["ewma_value"]
        for r in queries()["ewma_halflife"](spark, sf_dir)
        .where(F.col("user_id") == uid)
        .collect()
    }
    for i, row in enumerate(hist):
        window = hist[max(0, i - EWMA_K + 1) : i + 1]
        cents = [round(r["value"] * 100) for r in window]
        n = len(cents)
        num = sum(c * (1 << (EWMA_K - n + j)) for j, c in enumerate(cents))
        den = 100 * ((1 << EWMA_K) - (1 << (EWMA_K - n)))
        assert math.isclose(out[row["event_id"]], num / den, rel_tol=1e-12)


def test_forward_asof_is_next_order_at_or_after(spark, sf_dir):
    out = queries()["join_asof_forward"](spark, sf_dir).cache()
    try:
        ev = load_table(spark, sf_dir, "events")
        assert out.count() == ev.count()
        # every match is at or after the event time
        j = out.join(ev.select("event_id", "ts"), "event_id")
        assert (
            j.where(
                F.col("next_orderkey").isNotNull()
                & (F.col("next_orderdate") < F.col("ts"))
            ).count()
            == 0
        )
        # spot-check one user against a python recompute
        uid = ev.groupBy("user_id").count().orderBy(F.desc("count")).first()["user_id"]
        orders = sorted(
            load_table(spark, sf_dir, "orders")
            .where(F.col("o_custkey") == uid)
            .select("o_orderkey", "o_orderdate")
            .collect(),
            key=lambda r: (r["o_orderdate"], r["o_orderkey"]),
        )
        got = {
            r["event_id"]: r["next_orderkey"]
            for r in out.where(F.col("user_id") == uid).collect()
        }
        for e in ev.where(F.col("user_id") == uid).select("event_id", "ts").collect():
            nxt = next(
                (o["o_orderkey"] for o in orders if o["o_orderdate"] >= e["ts"]), None
            )
            assert got[e["event_id"]] == nxt
    finally:
        out.unpersist()
