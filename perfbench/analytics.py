"""``analytics_headline``: registry queries, one at a time, closed loop.

Each query in ``headline.QUERIES`` is built by its registry callable on
the seeded tables and run to the ``noop`` sink. A pass runs every query
once, in an order the seed permutes; the message path is not touched.

Set-up builds the registry, runs one pass that collects every result
and compares its canonical hash with that of the query's DuckDB oracle,
where one exists (``perfbench/inputs.py`` computes those in a child
process), and then ``WARM_PASSES`` unmeasured passes. Pass times keep
falling for ten passes and more while the JVM compiles, longer than a
run can wait; a fixed count puts every run at the same point of that
curve, where warming up until two passes agree stopped after 4 to 7
passes and spread the runs wider. The measured passes follow
until ``seconds`` have gone by (at least ``MIN_PASSES``).
Throughput comes from the median pass, latency percentiles from every
measured execution. A query that raises or mismatches is a failed
operation; the run goes on with the next.
"""

from __future__ import annotations

import statistics
import time
import traceback

import numpy as np

from perfbench import inputs
from perfbench.headline import PYTHON, QUERIES

MIN_PASSES = 3
WARM_PASSES = 2


def prepare(ctx) -> None:
    from watermill_kinesis_spark.sources.tables import TABLE_NAMES

    ctx.data_dir = ctx.path("data", "tables")
    ctx.oracle = inputs.make(ctx, ctx.data_dir, TABLE_NAMES, QUERIES)


def setup(ctx) -> float:
    """Registry construction, the checked pass and the warm-up; returns
    the seconds spent in the engine (hashing results is not counted)."""
    from watermill_kinesis_spark import registry

    t = time.perf_counter()
    with ctx.tracer.span("registry.queries"):
        ctx.queries = registry.queries()
    engine_s = time.perf_counter() - t
    for name in QUERIES:
        t = time.perf_counter()
        try:
            got = ctx.queries[name](ctx.spark, ctx.data_dir).toPandas()
        except Exception:
            traceback.print_exc()
            ctx.count(attempted=1, failed=1)
            continue
        engine_s += time.perf_counter() - t
        try:
            ok = name not in ctx.oracle or inputs.oracle_hash(got) == ctx.oracle[name]
        except Exception:  # a result that cannot be compared is not verified
            traceback.print_exc()
            ok = False
        if not ok:
            ctx.log(f"{name}: result differs from its oracle")
        ctx.count(attempted=1, failed=0 if ok else 1)
    ctx.log(f"checked pass done, {engine_s:.2f}s in the engine")
    warm = [work(ctx) for _ in range(WARM_PASSES)]
    ctx.log(f"warm after {len(warm)} passes: " + " ".join(f"{w:.2f}" for w in warm))
    return engine_s + sum(warm)


def run_query(ctx, name: str, stages) -> dict | None:
    """Build and run one query to the noop sink; None if it raised.
    Traced, the query's jobs run under their own job group."""
    group = ctx.fresh(name)
    if stages is not None:
        ctx.spark.sparkContext.setJobGroup(group, name)
    t0 = time.time()
    try:
        with ctx.tracer.span("registry.build", trace=name):
            df = ctx.queries[name](ctx.spark, ctx.data_dir)
        t1 = time.time()
        with ctx.tracer.span("driver.action", trace=name):
            df.write.format("noop").mode("overwrite").save()
        t2 = time.time()
    except Exception:
        traceback.print_exc()
        ctx.count(attempted=1, failed=1)
        return None
    ctx.count(attempted=1, failed=0)
    r = {"name": name, "group": group, "build": (t0, t1), "action": (t1, t2), "wall_s": t2 - t0}
    if stages is not None:
        r["held_mb"] = stages.held_mb()
    return r


def work(ctx) -> float:
    """One unmeasured pass in the listed order; returns its seconds.
    Traced, it reads the status store as ``measure`` does."""
    from perfbench.trace import StageReader

    stages = StageReader(ctx.spark) if ctx.tracer.enabled else None
    t = time.perf_counter()
    for name in QUERIES:
        run_query(ctx, name, stages)
    if stages is not None:
        ctx.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    return time.perf_counter() - t


def measure(ctx) -> dict:
    from perfbench.trace import StageReader

    stages = StageReader(ctx.spark) if ctx.tracer.enabled else None
    order = list(QUERIES)
    rng = np.random.default_rng(ctx.seed)
    walls: dict[str, list[float]] = {q: [] for q in QUERIES}
    passes: list[float] = []
    traced: list[dict] = []
    failed = 0
    t_end = time.perf_counter() + ctx.seconds
    while len(passes) < MIN_PASSES or time.perf_counter() < t_end:
        rng.shuffle(order)
        t = time.perf_counter()
        for name in order:
            r = run_query(ctx, name, stages)
            if r is None:
                failed += 1
                continue
            walls[name].append(r["wall_s"])
            traced.append(r)
        passes.append(time.perf_counter() - t)
        ctx.log(f"pass {len(passes)}: {passes[-1]:.2f}s")
    per_query = {q: statistics.median(w) for q, w in walls.items() if w}
    every_ms = [1000 * s for w in walls.values() for s in w]
    layer = {f"analytics.q.{q}_s": s for q, s in per_query.items()}
    layer.update(
        {
            "analytics.python_s": sum(s for q, s in per_query.items() if q in PYTHON),
            "analytics.jvm_s": sum(s for q, s in per_query.items() if q not in PYTHON),
            "analytics.queries": len(passes) * len(QUERIES),
            "analytics.failed_ratio": failed / (len(passes) * len(QUERIES)),
            "analytics.latency_p90_ms": float(np.percentile(every_ms, 90)),
        }
    )
    if stages is not None:
        ctx.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        layer.update(_stage_sums(stages, traced, len(passes)))
    return {
        "e2e": {
            "throughput_per_s": len(QUERIES) / statistics.median(passes),
            "latency_p50_ms": float(np.percentile(every_ms, 50)),
        },
        "setup": [],
        "layer": layer,
    }


def _stage_sums(stages, runs: list[dict], n_passes: int) -> dict:
    """Driver and executor totals per pass, from the status store, read
    by job group once the passes are over."""
    from perfbench.trace import stage_totals

    sums: dict[str, float] = {}
    for r in runs:
        jobs, st = stages.group(r["group"])
        t = stage_totals(st, (r["build"][0], r["action"][1]))
        t["jobs"] = jobs
        t["build_s"] = r["build"][1] - r["build"][0]
        t["exec_s"] = r["action"][1] - r["action"][0]
        # only the action's part of the uncovered time: building the
        # plan is driver work by definition
        t["driver_gap_s"] = stage_totals(st, r["action"])["driver_gap_s"]
        for k, v in t.items():
            sums[k] = sums.get(k, 0.0) + v
    out = {f"analytics.{k}": sums.get(k, 0.0) / n_passes for k in (
        "build_s", "exec_s", "driver_gap_s", "jobs", "stages", "tasks", "gc_s",
        "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
    )}
    out["analytics.executor_run_s"] = sums.get("run_s", 0.0) / n_passes
    out["analytics.executor_cpu_s"] = sums.get("cpu_s", 0.0) / n_passes
    out["analytics.leftover_mb"] = max((r["held_mb"] for r in runs), default=0.0)
    return out
