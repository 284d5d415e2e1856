"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end set, with ``--trace 1`` the
per-layer set (``perfbench/metrics.py``). Everything the run writes
stays under ``.perfbench/`` in the repository root, and is removed at
exit except the traced run's spans.

Without the engine package beside it the command fails before printing
a result. Once the session is up, a failure inside the workload (a
raised query, a dead JVM) is counted as failed operations and every
metric is still printed.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: run seconds after which a traced run skips its optional phases (the
#: tracing overhead, then the single-core reference), so that it still
#: ends within 180 s when the machine is slow; a skipped metric reads 0
OVERHEAD_BY_S = 110
ONE_CORE_BY_S = 135


class Context:
    """What a workload sees: its seed and run length, the session, the
    tracer, the run directory, and the operation counts."""

    def __init__(self, workload: str, seed: int, seconds: int, run_dir: str):
        from perfbench.trace import PeakRss, Tracer

        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.run_dir = run_dir
        self.cpus = len(os.sched_getaffinity(0))
        self.tracer = Tracer(False)
        self.rss = PeakRss()
        self.spark = None
        self.session_span = (0.0, 0.0)
        self.attempted = 0
        self.failed = 0
        self._names = 0
        self._t0 = time.perf_counter()

    def path(self, *parts: str) -> str:
        p = os.path.join(self.run_dir, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def fresh(self, label: str) -> str:
        """A stream or table name not used before in this run."""
        self._names += 1
        return f"{label}-{self.seed}-{self._names}"

    def elapsed(self) -> float:
        return time.perf_counter() - self._t0

    def log(self, msg: str) -> None:
        """Progress line on stderr, stamped with seconds since start."""
        print(f"perfbench {self.elapsed():7.2f}s {msg}", file=sys.stderr, flush=True)

    def count(self, attempted: int, failed: int) -> None:
        self.attempted += attempted
        self.failed += failed

    def start_session(self, cpus: int) -> float:
        """(Re)start the engine's session at ``local[cpus]``; returns
        the seconds it took."""
        from watermill_kinesis_spark.session import get_spark

        self.stop_session()
        t = time.time()
        self.spark = get_spark(f"perfbench-{self.workload}", cpus=cpus)
        self.session_span = (t, time.time())
        self.log(f"session local[{cpus}] up")
        return self.session_span[1] - t

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def _stop_jvm() -> None:
    """Stop the JVM this process launched and wait for it; its Python
    daemon and workers end with it."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except (Py4JError, OSError):
            traceback.print_exc()  # a dead JVM: only the process is left
    if proc is not None and proc.poll() is None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


#: workload name -> module implementing prepare, measure and work, and
#: optionally setup, from_spans and one_core
WORKLOADS = {
    "pubsub_stream": "perfbench.pubsub",
    "analytics_headline": "perfbench.analytics",
}


def _overhead(ctx: Context, wl, live: str) -> float:
    """Tracing overhead in percent: a traced work pass against the mean
    of untraced ones on either side of it, all on a warm JVM, so neither
    warm-up nor drift is charged to tracing. The traced pass's spans are
    thrown away."""
    from perfbench import trace

    ctx.log("tracing overhead: untraced, traced, untraced work pass")
    before = wl.work(ctx)
    os.makedirs(live)
    ctx.tracer = trace.Tracer(True, live)
    traced = wl.work(ctx)
    ctx.tracer = trace.Tracer(False)
    shutil.rmtree(live)
    after = wl.work(ctx)
    return 100.0 * (traced / ((before + after) / 2) - 1.0)


def _traced(ctx: Context, wl) -> dict:
    """Per-layer metrics: a traced pass, the tracing overhead, then the
    single-core reference."""
    from perfbench import trace
    from perfbench.stub import TRACE_DIR_ENV

    live = os.environ[TRACE_DIR_ENV]
    os.makedirs(live)
    ctx.tracer = trace.Tracer(True, live)
    ctx.tracer.add("session.get_spark", "session", *ctx.session_span)
    t0 = time.time()
    traced = wl.measure(ctx)
    for st in trace.StageReader(ctx.spark).stages(t0, time.time()):
        ctx.tracer.add("spark.stage", None, st["start"], st["end"], tasks=st["tasks"])
    ctx.tracer.dump()
    ctx.tracer = trace.Tracer(False)
    spans_dir = os.path.join(ctx.run_dir, "spans")
    os.rename(live, spans_dir)  # executors stop writing spans
    values = dict(traced["layer"])
    spans = trace.link(trace.load_spans(spans_dir))
    with open(os.path.join(spans_dir, "linked.jsonl"), "w") as f:
        f.writelines(json.dumps(s) + "\n" for s in spans)
    selfs = trace.self_times(spans)
    from perfbench.metrics import SELF_LAYERS

    for layer in SELF_LAYERS:
        values[f"self.{layer}_s"] = selfs.get(layer, 0.0)
    if hasattr(wl, "from_spans"):
        values.update(wl.from_spans(ctx, spans))
    if ctx.elapsed() < OVERHEAD_BY_S:
        values["trace_overhead_pct"] = _overhead(ctx, wl, live)
    else:
        ctx.log("running late: tracing overhead skipped")
    if hasattr(wl, "one_core"):
        if ctx.elapsed() < ONE_CORE_BY_S:
            values.update(wl.one_core(ctx))
        else:
            ctx.log("running late: single-core reference skipped")
    return values


def _timed(ctx: Context, wl, setup_s: float) -> dict:
    r = wl.measure(ctx)
    values = dict(r["e2e"])
    values["setup_s"] = setup_s + (statistics.median(r["setup"]) if r["setup"] else 0.0)
    return values


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import watermill_kinesis_spark  # noqa: F401 -- no engine, no result

    from perfbench import metrics
    from perfbench.stub import STUB_ROOT_ENV, TRACE_DIR_ENV

    wl = importlib.import_module(WORKLOADS[args.workload])
    run_dir = os.path.join(
        ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    os.makedirs(run_dir)
    # everything the engine, the JVM and the workers write stays here;
    # the JVM inherits this environment, and its Python workers with it
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        {
            STUB_ROOT_ENV: os.path.join(run_dir, "stub"),
            TRACE_DIR_ENV: os.path.join(run_dir, "spans-live"),
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": tmp,
            # no hsperfdata: HotSpot writes it under /tmp whatever the tmpdir
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
    )
    os.chdir(run_dir)  # spark-warehouse, metastore_db, derby.log

    ctx = Context(args.workload, args.seed, args.seconds, run_dir)
    values: dict = {}
    crashed = False
    with ctx.rss:
        try:
            wl.prepare(ctx)
            ctx.log("inputs written")
            setup_s = ctx.start_session(ctx.cpus)
            if hasattr(wl, "setup"):
                setup_s += wl.setup(ctx)
            values = _traced(ctx, wl) if args.trace else _timed(ctx, wl, setup_s)
        except Exception:
            traceback.print_exc()
            crashed = True
            # the operation in flight (and the rest of the run) failed
            ctx.count(attempted=1, failed=1)
        finally:
            try:
                ctx.stop_session()
            except Exception:
                traceback.print_exc()
            _stop_jvm()
    if not args.trace:
        values["peak_rss_mb"] = ctx.rss.peak_mb
    os.chdir(ROOT)
    for sub in ("stub", "tmp", "data", "checkpoints", "positions"):
        shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)
    if not args.trace:
        shutil.rmtree(run_dir, ignore_errors=True)
    out = metrics.payload(
        bool(args.trace),
        values,
        ctx.attempted,
        ctx.failed,
        correct=not crashed and ctx.failed == 0,
    )
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
