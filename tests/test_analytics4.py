"""Invariant tests for windows (LOCF, period-over-period, transitions),
formats (XML shred, z-order), relational (collation, observe metrics,
table diff), evaluation (crosstab, correlation matrix) and multimodal
(audio energy) operators."""

import math

from pyspark.sql import functions as F

from watermill_kinesis_spark.operators.windows import LOCF_MISSING_BELOW
from watermill_kinesis_spark.registry import queries
from watermill_kinesis_spark.sources.tables import load_table


def test_locf_fills_only_missing_and_preserves_valid(spark, sf_dir):
    out = queries()["forward_fill_locf"](spark, sf_dir).cache()
    try:
        ev = load_table(spark, sf_dir, "events").select("event_id", "value")
        j = out.join(ev, "event_id")
        # valid readings pass through untouched
        assert (
            j.where(
                ~F.col("was_missing") & (F.col("filled_value") != F.col("value"))
            ).count()
            == 0
        )
        # filled values are always valid readings (or NULL before any)
        assert (
            j.where(
                F.col("filled_value").isNotNull()
                & (F.col("filled_value") <= LOCF_MISSING_BELOW)
            ).count()
            == 0
        )
        assert out.count() == ev.count()
    finally:
        out.unpersist()


def test_period_over_period_telescopes(spark, sf_dir):
    rows = sorted(
        queries()["period_over_period"](spark, sf_dir).collect(),
        key=lambda r: r["day"],
    )
    assert rows[0]["delta_cents"] is None and rows[0]["pct_change"] is None
    # deltas telescope back to the endpoint difference
    assert (
        sum(r["delta_cents"] for r in rows[1:])
        == rows[-1]["rev_cents"] - rows[0]["rev_cents"]
    )
    for prev, cur in zip(rows, rows[1:]):
        assert cur["delta_cents"] == cur["rev_cents"] - prev["rev_cents"]
        if prev["rev_cents"] != 0:
            assert math.isclose(
                cur["pct_change"], cur["delta_cents"] / prev["rev_cents"]
            )


def test_xml_shred_matches_raw_aggregate(spark, sf_dir):
    from watermill_kinesis_spark.functions.exact import lcents

    got = {
        r["event_type"]: (r["n"], r["sum_cents"], r["sum_uid"])
        for r in queries()["xml_shred"](spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    truth = {
        r["event_type"]: (r["n"], r["c"], r["u"])
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(lcents("value")).alias("c"),
            F.sum("user_id").alias("u"),
        )
        .collect()
    }
    assert got == truth


def test_collation_group_folds_case_variants(spark, sf_dir):
    rows = queries()["collation_group"](spark, sf_dir).collect()
    d = load_table(spark, sf_dir, "documents")
    truth = {
        r["source"]: r["n"]
        for r in d.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    got = {r["source_ci"]: r["n_docs"] for r in rows}
    # the case-varied key folds back to exactly the per-source counts
    assert got == truth
    assert all(k == k.lower() for k in got)


def test_zorder_buckets_confine_key_residues(spark, sf_dir):
    from watermill_kinesis_spark.operators.formats import ZORDER_BITS

    rows = queries()["zorder_layout"](spark, sf_dir).collect()
    assert rows
    mask = (1 << ZORDER_BITS) - 1
    li = load_table(spark, sf_dir, "lineitem")
    assert sum(r["n_rows"] for r in rows) == li.count()
    for r in rows:
        # decode the z-value back to its residue pair
        bx = by = 0
        for i in range(ZORDER_BITS):
            bx |= ((r["zbucket"] >> (2 * i)) & 1) << i
            by |= ((r["zbucket"] >> (2 * i + 1)) & 1) << i
        assert r["min_part"] & mask == bx and r["max_part"] & mask == bx
        assert r["min_supp"] & mask == by and r["max_supp"] & mask == by


def test_audio_energy_matches_python_recompute(spark, sf_dir):
    from watermill_kinesis_spark.operators.multimodal import AUDIO_FRAME_BYTES

    out = {
        r["doc_id"]: r
        for r in queries()["multimodal_audio_energy"](spark, sf_dir).collect()
    }
    docs = (
        load_table(spark, sf_dir, "documents")
        .orderBy("doc_id")
        .limit(20)
        .collect()
    )
    for d in docs:
        buf = d["text"].encode()
        n = (len(buf) // AUDIO_FRAME_BYTES) * AUDIO_FRAME_BYTES
        if n == 0:
            assert d["doc_id"] not in out
            continue
        frames = [
            buf[i : i + AUDIO_FRAME_BYTES] for i in range(0, n, AUDIO_FRAME_BYTES)
        ]
        energies = [sum(b * b for b in f) for f in frames]
        r = out[d["doc_id"]]
        assert r["n_frames"] == len(energies)
        assert r["max_energy"] == max(energies)
        assert r["total_energy"] == sum(energies)


def test_observe_metrics_equal_direct_aggregate(spark, sf_dir):
    from watermill_kinesis_spark.functions.exact import lcents

    row = queries()["observe_metrics_audit"](spark, sf_dir).first()
    ev = load_table(spark, sf_dir, "events")
    truth = ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("value") > 100.0).alias("l"),
        F.sum(lcents("value")).alias("s"),
        F.min("event_id").alias("mn"),
        F.max("event_id").alias("mx"),
    ).first()
    assert (
        row["n_input"],
        row["n_large"],
        row["sum_cents"],
        row["min_event_id"],
        row["max_event_id"],
    ) == tuple(truth)


def test_crosstab_expected_marginals_consistent(spark, sf_dir):
    import math

    rows = queries()["crosstab_expected"](spark, sf_dir).collect()
    n = sum(r["observed"] for r in rows)
    ev = load_table(spark, sf_dir, "events")
    assert n == ev.count()
    # expected counts share the observed marginals: Σ_cells expected = N
    assert math.isclose(sum(r["expected"] for r in rows), n, rel_tol=1e-9)
    for r in rows:
        assert math.isclose(r["lift"] * r["expected"], r["observed"], rel_tol=1e-9)


def test_corr_matrix_matches_numpy(spark, sf_dir):
    import numpy as np

    rows = {
        r["l_returnflag"]: r
        for r in queries()["corr_matrix_exact"](spark, sf_dir).collect()
    }
    li = load_table(spark, sf_dir, "lineitem")
    for flag, r in rows.items():
        data = (
            li.where(F.col("l_returnflag") == flag)
            .select("l_quantity", "l_extendedprice", "l_discount")
            .collect()
        )
        q = np.array([x[0] for x in data])
        p = np.array([round(x[1] * 100) for x in data], dtype=np.float64)
        d = np.array([round(x[2] * 100) for x in data], dtype=np.float64)
        import math

        assert math.isclose(r["corr_qty_price"], np.corrcoef(q, p)[0, 1], rel_tol=1e-6)
        assert math.isclose(r["corr_qty_disc"], np.corrcoef(q, d)[0, 1], rel_tol=1e-6)
        assert math.isclose(r["corr_price_disc"], np.corrcoef(p, d)[0, 1], rel_tol=1e-6)
        assert -1.0 <= r["corr_qty_price"] <= 1.0


def test_transition_matrix_rows_are_distributions(spark, sf_dir):
    import math
    from collections import defaultdict

    rows = queries()["event_transition_matrix"](spark, sf_dir).collect()
    by_prev = defaultdict(float)
    for r in rows:
        assert r["n_transitions"] > 0 and 0 < r["p_next"] <= 1
        by_prev[r["prev_type"]] += r["p_next"]
    for prev, total in by_prev.items():
        assert math.isclose(total, 1.0, rel_tol=1e-9), prev
    # conservation: transitions = events - first event per user
    ev = load_table(spark, sf_dir, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert sum(r["n_transitions"] for r in rows) == n_events - n_users


def test_table_diff_classes_partition_the_key_space(spark, sf_dir):
    from watermill_kinesis_spark.operators.relational import diff_bounds

    rows = {
        r["change_type"]: r
        for r in queries()["table_diff_reconcile"](spark, sf_dir).collect()
    }
    assert set(rows) == {"added", "removed", "changed", "unchanged"}
    ev = load_table(spark, sf_dir, "events")
    DIFF_OLD_MAX, DIFF_NEW_MIN = diff_bounds(ev.agg(F.max("event_id")).first()[0])
    n_old = ev.where(F.col("event_id") < DIFF_OLD_MAX).count()
    n_new = ev.where(F.col("event_id") >= DIFF_NEW_MIN).count()
    n_overlap = ev.where(
        (F.col("event_id") >= DIFF_NEW_MIN) & (F.col("event_id") < DIFF_OLD_MAX)
    ).count()
    assert rows["removed"]["n_rows"] == n_old - n_overlap
    assert rows["added"]["n_rows"] == n_new - n_overlap
    assert (
        rows["changed"]["n_rows"] + rows["unchanged"]["n_rows"] == n_overlap
    )
    # changed rows are exactly the 13-divisible overlap keys
    n_changed = ev.where(
        (F.col("event_id") >= DIFF_NEW_MIN)
        & (F.col("event_id") < DIFF_OLD_MAX)
        & (F.col("event_id") % 13 == 0)
    ).count()
    assert rows["changed"]["n_rows"] == n_changed
    assert rows["removed"]["max_id"] < DIFF_NEW_MIN
    assert rows["added"]["min_id"] >= DIFF_OLD_MAX
