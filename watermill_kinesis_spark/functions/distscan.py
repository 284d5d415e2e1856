"""Distributed per-group ordered scans: global row numbers and prefix
sums WITHOUT a per-group window.

A Spark ``Window.partitionBy(g).orderBy(k)`` sorts and scans each
group's rows inside ONE task. When the group axis is a small enum (an
event-type code, a priority class), that is a parallelism collapse: at
100 TB each of ~5 tasks sorts N/5 rows while the rest of the cluster
idles. This module is the one home of the decomposition:
range-partition on (group, order-key) so every task holds a contiguous
slice of some group's ordered rows, compute LOCAL
row numbers / prefix sums per slice with a (slice, group)-partitioned
window (parallel — slices are the unit of parallelism, not groups),
then lift local values to global ones by adding per-slice offsets
computed from a bounded ``collect()`` of per-(slice, group) counts —
``n_slices × |groups|`` rows, a model artifact, not data.

Rank, NTILE, and running sums all decompose this way and the results
are bit-identical to the single-window plan, so the oracle SQL (which
may keep its per-group window — DuckDB is single-node) is unchanged.
With no group columns the same scan is a global rank / prefix sum
(the slices still sort in parallel; only the offsets are global).

Reference parity note: the reference engine (a Go Kinesis Pub/Sub
connector, ~856 LoC) has no analytics surface; this is scale
infrastructure for the driver-mandated evaluation/statistics layer.
"""

from __future__ import annotations

from decimal import Decimal
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window as W, functions as F
from watermill_kinesis_spark.functions.localrel import local_relation
from pyspark.sql.types import (
    DecimalType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

#: default range-slice count — the unit of parallelism; at cluster
#: scale set to ~2-3× the executor-core count
N_SLICES = 32


def range_slices(
    df: DataFrame,
    group_cols: Sequence[str],
    order_exprs: Sequence[Column],
    nparts: int = N_SLICES,
) -> DataFrame:
    """The pattern's shared scaffold: range-partition on
    (group, order-key), sort within each slice, tag rows with their
    slice id, and ``localCheckpoint`` to pin ONE materialization of
    the sampled range boundaries (the sampler is otherwise free to
    re-draw between the offsets collect and the joined scan). Used by
    :func:`grouped_scan` and by operators whose per-slice kernel is
    not a plain rank/prefix-sum (seam-patched LEAD, boundary counts).
    The checkpointed blocks are freed by Spark's ContextCleaner once
    the result DataFrame is dereferenced."""
    gcols = [F.col(c) for c in group_cols]
    return (
        df.repartitionByRange(nparts, *gcols, *order_exprs)
        .sortWithinPartitions(*gcols, *order_exprs)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()
    )


def grouped_scan(
    df: DataFrame,
    group_cols: Sequence[str],
    order_exprs: Sequence[Column],
    sum_cols: Sequence[str] = (),
    nparts: int = N_SLICES,
) -> tuple[DataFrame, dict]:
    """Attach a global 1-based per-group row number ``rn`` (under
    ``order_exprs``, which MUST be a total order within each group —
    include a unique tiebreak key) and, for each name in ``sum_cols``
    (exact integer/decimal columns only), an inclusive global prefix
    sum ``cum_<name>`` as decimal(38,0).

    Returns ``(scan_df, totals)`` where ``totals`` maps each group
    tuple to ``{"n": row_count, <name>: group_total (Decimal)}`` —
    per-group totals come free from the same bounded offsets collect.

    Scale shape: ONE range shuffle on (group, order-key), local
    windows partitioned by (slice, group) — never by the group alone —
    one ``collect()`` of n_slices × |groups| offset rows (broadcast
    back), and a ``localCheckpoint`` pinning a single materialization
    of the sampled range boundaries so the offsets and the joined scan
    see the same partitioning.
    """
    parted = range_slices(df, group_cols, order_exprs, nparts)
    w_rn = W.partitionBy("__pid", *group_cols).orderBy(*order_exprs)
    # explicit ROWS frame: with a unique total order RANGE == ROWS, but
    # ROWS states the running-sum intent without relying on that
    w_cum = w_rn.rowsBetween(W.unboundedPreceding, W.currentRow)
    local = parted.withColumn("__lrk", F.row_number().over(w_rn))
    for c in sum_cols:
        local = local.withColumn(f"__lcum_{c}", F.sum(c).over(w_cum))

    aggs = [F.count(F.lit(1)).alias("__cnt")] + [
        F.sum(c).alias(f"__s_{c}") for c in sum_cols
    ]
    stats = parted.groupBy("__pid", *group_cols).agg(*aggs).collect()

    # running offsets per group in ascending slice order (the range
    # partitioner assigns ascending key ranges to ascending pids)
    acc: dict[tuple, list] = {}
    off_rows: list[tuple] = []
    for row in sorted(stats, key=lambda r: r["__pid"]):
        g = tuple(row[c] for c in group_cols)
        if any(v is None for v in g):
            # the broadcast-offsets join below is null-UNSAFE: a NULL
            # group key would silently drop its rows from the scan
            # (the window form this replaces kept them) — fail loudly
            # instead
            raise ValueError(
                f"grouped_scan requires non-null group keys; got {g!r} "
                f"for columns {list(group_cols)}"
            )
        cur = acc.setdefault(g, [0] + [Decimal(0)] * len(sum_cols))
        off_rows.append((row["__pid"], *g, cur[0], *cur[1:]))
        cur[0] += row["__cnt"]
        for i, c in enumerate(sum_cols):
            v = row[f"__s_{c}"]
            cur[i + 1] += Decimal(0) if v is None else Decimal(v)
    totals = {
        g: {"n": cur[0], **{c: cur[i + 1] for i, c in enumerate(sum_cols)}}
        for g, cur in acc.items()
    }

    gschema = parted.select(*group_cols).schema
    fields = (
        [StructField("__pid", IntegerType(), False)]
        + list(gschema.fields)
        + [StructField("__off", LongType(), False)]
        + [
            StructField(f"__soff_{c}", DecimalType(38, 0), False)
            for c in sum_cols
        ]
    )
    off_df = local_relation(df.sparkSession, off_rows, StructType(fields))

    out = local.join(F.broadcast(off_df), ["__pid", *group_cols])
    out = out.withColumn(
        "rn", (F.col("__off") + F.col("__lrk")).cast("bigint")
    )
    for c in sum_cols:
        out = out.withColumn(
            f"cum_{c}",
            (F.col(f"__soff_{c}") + F.col(f"__lcum_{c}")).cast(
                "decimal(38,0)"
            ),
        )
    drop = (
        ["__pid", "__lrk", "__off"]
        + [f"__lcum_{c}" for c in sum_cols]
        + [f"__soff_{c}" for c in sum_cols]
    )
    return out.drop(*drop), totals


def group_sizes_df(
    spark, totals: dict, gschema: StructType, extra: Sequence[str] = ()
) -> DataFrame:
    """Broadcast-ready (group, n[, tot_<c> totals...]) relation from a
    :func:`grouped_scan` totals dict — |groups| rows. Totals are
    emitted as ``tot_<c>`` so joining back onto the scan output never
    collides with the per-row column of the same name."""
    fields = list(gschema.fields) + [StructField("n", LongType(), False)] + [
        StructField(f"tot_{c}", DecimalType(38, 0), False) for c in extra
    ]
    rows = [
        (*g, t["n"], *[Decimal(t[c]) for c in extra])
        for g, t in totals.items()
    ]
    return local_relation(spark, rows, StructType(fields))


def _int_div(a: Column, b: Column) -> Column:
    """Truncating integer division on positive bigint columns (SQL
    ``div`` semantics) without string-templating column names. The
    subtraction makes the numerator exactly divisible, so the double
    division is exact for values < 2^53 — far past any per-group row
    count this engine ranks (1e15 rows per group)."""
    return ((a - (a % b)) / b).cast("bigint")


def ntile_closed_form(rn: Column, n: Column, buckets: int) -> Column:
    """NTILE(buckets) over a global per-group row number ``rn`` (1-based
    bigint) and group size ``n`` — closed form, integer-exact, matching
    the window function bit-for-bit: the first n%buckets tiles take
    n div buckets + 1 rows each. When n < buckets (q=0) the first
    branch covers all rows, so the q-divisor branch never evaluates on
    a q=0 row (and integer `/` of the guarded form stays finite)."""
    b = F.lit(buckets)
    q = _int_div(n, b)
    r = n % b
    big = (q + 1) * r  # rows covered by the wide tiles
    wide = _int_div(rn + q, q + 1)  # ceil(rn / (q+1))
    narrow = r + _int_div(
        rn - big + q - F.lit(1), F.when(q > 0, q).otherwise(F.lit(1))
    )
    return F.when(rn <= big, wide).otherwise(narrow).cast("bigint")


def grouped_order_stats(
    spark,
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    picks: dict[str, "callable"],
    nparts: int = N_SLICES,
    count_col: str | None = None,
) -> DataFrame:
    """Exact per-group order statistics via the distributed selection:
    one output column per entry in ``picks`` (name → function mapping
    the group's row count ``n`` to the 1-based rank to select under
    ascending ``value_col`` order). The single audited home of the
    rank-pick pattern — ``mad_robust_stats``'s medians and
    ``winsorized_mean_exact``'s p05/p95 both route here, so the rank
    convention lives in ONE place. Scale shape: one
    :func:`grouped_scan` range shuffle (ties broken by a
    monotonically-increasing id — any total order selects the same
    VALUE at a rank), a bounded |groups|-row picks relation broadcast
    back, and a ≤ |groups|·|picks| aggregate. Pass ``count_col`` to
    also emit each group's row count under that name — the counts come
    FREE from the same bounded offsets collect the selection already
    paid for, so callers never re-run their input pipeline just to
    count it."""
    sized = df.withColumn("__tb", F.monotonically_increasing_id())
    scan, tot = grouped_scan(
        sized, group_cols, [F.col(value_col), F.col("__tb")], nparts=nparts
    )
    gschema = df.select(*group_cols).schema
    pick_fields = [
        StructField(f"__pick_{name}", LongType()) for name in picks
    ]
    count_fields = [StructField(count_col, LongType())] if count_col else []
    pick_rows = []
    for g, t in tot.items():
        ranks = []
        for name, fn in picks.items():
            r = int(fn(t["n"]))
            if not 1 <= r <= t["n"]:
                # an out-of-range rank would match NO row and silently
                # drop the whole group from the output — fail loudly
                # instead, mirroring the null-group-key guard. All
                # shipped pick functions are ceil(q·n)-style and stay
                # in range; this guards future callers.
                raise ValueError(
                    f"grouped_order_stats pick {name!r} computed rank "
                    f"{r} outside [1, {t['n']}] for group {g!r}"
                )
            ranks.append(r)
        pick_rows.append(
            tuple(g) + tuple(ranks) + ((int(t["n"]),) if count_col else ())
        )
    picks_df = local_relation(
        spark,
        pick_rows,
        StructType(list(gschema.fields) + pick_fields + count_fields),
    )
    ranked = scan.join(F.broadcast(picks_df), list(group_cols))
    any_pick = None
    for name in picks:
        cond = F.col("rn") == F.col(f"__pick_{name}")
        any_pick = cond if any_pick is None else (any_pick | cond)
    return (
        ranked.where(any_pick)
        .groupBy(*group_cols)
        .agg(
            *[
                F.min(
                    F.when(
                        F.col("rn") == F.col(f"__pick_{name}"),
                        F.col(value_col),
                    )
                ).alias(name)
                for name in picks
            ],
            *(
                [F.min(count_col).cast("bigint").alias(count_col)]
                if count_col
                else []
            ),
        )
    )
