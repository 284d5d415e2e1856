"""Direct tests for functions/distscan.py — the distributed per-group
scan that replaces every enum-partitioned window and every global
single-partition rank. The operators riding it are oracle-checked
end-to-end; these pin the
helper's own contract: bit-identity with the single-window plan,
NTILE closed-form equivalence, the slice-bounded parallelism claim,
and the loud-failure paths."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, Window as W, functions as F

from watermill_kinesis_spark.functions.distscan import (
    grouped_scan,
    ntile_closed_form,
    range_slices,
)


def test_grouped_scan_matches_window_rank_and_cumsum(spark):
    """rn and cum_<c> must equal the per-group window's row_number and
    running sum exactly — including groups smaller than the slice
    count, ties in the first order key, and multi-slice groups."""
    rows = [
        Row(g=g, k=i % 7, tb=i, x=(i * 13) % 5)
        for g in ("a", "b", "c")
        for i in range(50)
    ] + [Row(g="tiny", k=0, tb=0, x=9)]
    df = spark.createDataFrame(rows)
    scan, totals = grouped_scan(
        df, ["g"], [F.col("k"), F.col("tb")], sum_cols=["x"], nparts=8
    )
    got = {
        (r.g, r.k, r.tb): (r.rn, int(r.cum_x)) for r in scan.collect()
    }
    w = W.partitionBy("g").orderBy("k", "tb")
    ref = df.select(
        "g",
        "k",
        "tb",
        F.row_number().over(w).alias("rn"),
        F.sum("x")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("cum_x"),
    )
    want = {(r.g, r.k, r.tb): (r.rn, r.cum_x) for r in ref.collect()}
    assert got == want
    assert totals[("tiny",)]["n"] == 1 and int(totals[("tiny",)]["x"]) == 9
    assert totals[("a",)]["n"] == 50


def test_grouped_scan_without_groups_is_a_global_scan(spark):
    """With no group columns rn and cum_<c> are the global row number
    and running sum of ONE window over the whole relation — heavy ties
    in the first order key are broken by the tiebreak column — and
    the totals hold one entry under the empty key."""
    rows = [Row(k=i % 3, tb=(i * 37) % 101, x=(i * 13) % 5) for i in range(101)]
    df = spark.createDataFrame(rows)
    scan, totals = grouped_scan(
        df, [], [F.col("k"), F.col("tb")], sum_cols=["x"], nparts=4
    )
    got = {(r.k, r.tb): (r.rn, int(r.cum_x)) for r in scan.collect()}
    w = W.orderBy("k", "tb")
    ref = df.select(
        "k",
        "tb",
        F.row_number().over(w).alias("rn"),
        F.sum("x")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("cum_x"),
    )
    want = {(r.k, r.tb): (r.rn, r.cum_x) for r in ref.collect()}
    assert got == want and len(got) == 101
    assert list(totals) == [()]
    assert totals[()]["n"] == 101
    assert int(totals[()]["x"]) == sum(r.x for r in rows)


def test_ntile_closed_form_matches_window_ntile(spark):
    """The integer closed form must reproduce F.ntile bit-for-bit on
    every residue class: n divisible by buckets, n % b != 0, and
    n < buckets (q=0, each row its own tile)."""
    for n in (40, 47, 7, 10, 1):
        df = spark.createDataFrame([Row(i=i) for i in range(1, n + 1)])
        w = W.orderBy("i")
        ref = df.select("i", F.ntile(10).over(w).alias("t"))
        got = df.select(
            "i",
            ntile_closed_form(
                F.col("i").cast("bigint"), F.lit(n).cast("bigint"), 10
            ).alias("t"),
        )
        assert {(r.i, r.t) for r in got.collect()} == {
            (r.i, r.t) for r in ref.collect()
        }, f"n={n}"


def test_grouped_scan_slices_bound_task_work(spark, sf_dir):
    """The parallelism claim itself (r6 VERDICT task 1 done-criterion):
    per-task window input is bounded by the range SLICE, not the
    group. On events (5-value enum), the largest per-(slice, group)
    chunk must sit near N/n_slices — far below the N/5 a
    group-partitioned window would hand one task."""
    from watermill_kinesis_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id"
    )
    n = ev.count()
    parted = range_slices(ev, ["event_type"], [F.col("ts"), F.col("event_id")])
    chunks = [
        r.c
        for r in parted.groupBy("__pid", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    ]
    assert sum(chunks) == n
    # a group-window plan would put n/5 rows in one task; slices keep
    # the max chunk within ~3x the ideal n/32 even under sampler skew
    assert max(chunks) < (n // 5) / 2
    assert max(chunks) <= 3 * (n // 32 + 1)


def test_grouped_scan_rejects_null_group_keys(spark):
    df = spark.createDataFrame(
        [Row(g="a", k=1), Row(g=None, k=2), Row(g="b", k=3)]
    )
    with pytest.raises(ValueError, match="non-null group keys"):
        grouped_scan(df, ["g"], [F.col("k")])


def test_grouped_scan_descending_order(spark):
    """Descending order expressions must flow through the range
    partitioner, the local sort, and the offsets identically — the
    cumulative_gains (score DESC) shape."""
    df = spark.createDataFrame([Row(g="a", v=i) for i in range(20)])
    scan, _ = grouped_scan(
        df, ["g"], [F.col("v").desc()], nparts=4
    )
    got = {r.v: r.rn for r in scan.collect()}
    assert got == {v: 20 - v for v in range(20)}


def test_grouped_order_stats_matches_sorted_picks(spark):
    """Direct pin of the shared rank-pick selection: for adversarial
    group shapes (singletons, heavy duplicates, negative values) every
    requested rank must select exactly sorted(values)[rank-1], and the
    free count_col must equal the group size."""
    from watermill_kinesis_spark.functions.distscan import grouped_order_stats

    cases = {
        "single": [7.0],
        "dups": [2.0, 2.0, 2.0, 2.0],
        "mixed": [5.0, -1.0, 3.5, -1.0, 0.0, 9.25, 3.5],
        "ordered": [float(i) for i in range(40)],
        "reversed": [float(40 - i) for i in range(40)],
    }
    rows = [(g, v) for g, vals in cases.items() for v in vals]
    df = spark.createDataFrame(rows, "grp string, value double")
    picks = {
        "first": lambda n: 1,
        "median": lambda n: (50 * n + 99) // 100,
        "p95": lambda n: (95 * n + 99) // 100,
        "last": lambda n: n,
    }
    out = {
        r.grp: r
        for r in grouped_order_stats(
            spark, df, ["grp"], "value", picks, count_col="n"
        ).collect()
    }
    assert set(out) == set(cases)
    for g, vals in cases.items():
        s = sorted(vals)
        n = len(s)
        r = out[g]
        assert r.n == n
        assert r.first == s[0]
        assert r.median == s[(50 * n + 99) // 100 - 1]
        assert r.p95 == s[(95 * n + 99) // 100 - 1]
        assert r.last == s[-1]


def test_grouped_order_stats_rejects_out_of_range_pick(spark):
    """r7 ADVICE: a pick function returning a rank outside [1, n] used
    to silently drop the whole group (rn == pick matched nothing);
    it must now raise, mirroring the null-group-key guard."""
    import pytest

    from watermill_kinesis_spark.functions.distscan import grouped_order_stats

    df = spark.createDataFrame(
        [("a", i) for i in range(5)], "g string, v int"
    )
    with pytest.raises(ValueError, match=r"outside \[1, 5\]"):
        grouped_order_stats(spark, df, ["g"], "v", {"bad": lambda n: n + 1})
    with pytest.raises(ValueError, match="outside"):
        grouped_order_stats(spark, df, ["g"], "v", {"bad": lambda n: 0})
    ok = grouped_order_stats(
        spark, df, ["g"], "v", {"lo": lambda n: 1, "hi": lambda n: n}
    ).collect()[0]
    assert (ok.lo, ok.hi) == (0, 4)
