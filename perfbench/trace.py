"""Spans, self time, Spark stage metrics and memory for the benchmark.

Spans are recorded only around calls the benchmark itself makes into
the engine's layers; nothing inside the engine is instrumented. A span
is ``{id, name, trace, parent, start, end, ...}`` with epoch-second
times. The driver keeps its spans in memory and writes them to
``spans-driver.jsonl`` at the end; executor processes write their
service-call spans themselves (``perfbench/stub.py``). Spans read back
from the status store (stages) or from the queries' progress reports
(micro-batches), and executor spans, carry no parent when recorded:
``link`` gives each the innermost driver span that covers it.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import threading
import time
from collections import defaultdict


class Tracer:
    """Driver-side span recorder. Disabled, every method is a no-op, so
    the timed runs carry no tracing work."""

    def __init__(self, enabled: bool, out_dir: str | None = None):
        self.enabled = enabled
        self.out_dir = out_dir
        self.spans: list[dict] = []
        self._local = threading.local()  # handlers run on callback threads
        self._ids = itertools.count(1)

    @property
    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _new(self, name: str, trace: str | None, start: float, **attrs) -> dict:
        parent = self._stack[-1] if self._stack else None
        return {
            "id": f"d-{next(self._ids)}",
            "name": name,
            "trace": trace or (parent["trace"] if parent else name),
            "parent": parent["id"] if parent else None,
            "start": start,
            "end": None,
            **attrs,
        }

    @contextlib.contextmanager
    def span(self, name: str, trace: str | None = None, **attrs):
        """Record ``name`` around the block; yields the span (or None)."""
        if not self.enabled:
            yield None
            return
        s = self._new(name, trace, time.time(), **attrs)
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            s["end"] = time.time()
            self.spans.append(s)

    def add(self, name: str, trace: str | None, start: float, end: float, **attrs) -> None:
        """Record a finished span read back from Spark, without a parent
        (and without a trace when ``trace`` is None) until ``link``."""
        if self.enabled:
            s = self._new(name, trace, start, **attrs)
            s.update(parent=None, trace=trace, end=end)
            self.spans.append(s)

    def dump(self) -> None:
        if self.enabled:
            with open(os.path.join(self.out_dir, "spans-driver.jsonl"), "w") as f:
                for s in self.spans:
                    f.write(json.dumps(s) + "\n")


def load_spans(trace_dir: str) -> list[dict]:
    spans = []
    for path in sorted(glob.glob(os.path.join(trace_dir, "spans-*.jsonl"))):
        with open(path) as f:
            spans.extend(json.loads(line) for line in f if line.strip())
    return spans


def _innermost(s: dict, pool: list[dict]) -> dict | None:
    inside = [
        c
        for c in pool
        if c is not s
        and c["name"] != s["name"]  # concurrent siblings, not nested
        and c["start"] <= s["start"]
        and c["end"] >= s["end"]
    ]
    return min(inside, key=lambda c: c["end"] - c["start"]) if inside else None


def link(spans: list[dict]) -> list[dict]:
    """Give every parentless span the innermost driver span that covers
    it as parent (in place). Spans read back without a trace (stages)
    go first and take their parent's trace; every other span looks only
    within its own trace."""
    drivers = [s for s in spans if s["id"].startswith("d-")]  # executor spans contain nothing
    for s in spans:
        if s["trace"] is None and s["parent"] is None:
            best = _innermost(s, [c for c in drivers if c["trace"] is not None])
            if best is not None:
                s["parent"], s["trace"] = best["id"], best["trace"]
    by_trace: dict[str, list[dict]] = defaultdict(list)
    for c in drivers:
        by_trace[c["trace"]].append(c)
    for s in spans:
        if s["parent"] is None and s["trace"] is not None:
            best = _innermost(s, by_trace[s["trace"]])
            if best is not None:
                s["parent"] = best["id"]
    return spans


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per layer: each span's duration minus the part of it
    its children cover, summed by layer (the span name up to its first
    dot)."""
    children: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        dur = s["end"] - s["start"]
        out[s["name"].split(".")[0]] += dur - covered(children.get(s["id"], []))
    return dict(out)


# -- Spark status store ---------------------------------------------------


class StageReader:
    """Stage metrics from ``SparkContext.statusStore()``, by job group or
    by time window (the benchmark runs one thing at a time, so the
    stages submitted in a window are the stages of what ran in it)."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._conv = self._sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._quantiles = self._sc._gateway.new_array(self._sc._jvm.double, 0)

    @staticmethod
    def _stage(sd, now: float) -> dict | None:
        if not sd.submissionTime().isDefined():
            return None  # skipped: its output was reused
        done = sd.completionTime()
        return {
            "start": sd.submissionTime().get().getTime() / 1000,
            "end": done.get().getTime() / 1000 if done.isDefined() else now,
            "tasks": sd.numTasks(),
            "run_s": sd.executorRunTime() / 1e3,
            "cpu_s": sd.executorCpuTime() / 1e9,
            "gc_s": sd.jvmGcTime() / 1e3,
            "shuffle_read_mb": sd.shuffleReadBytes() / 2**20,
            "shuffle_write_mb": sd.shuffleWriteBytes() / 2**20,
            "spill_mb": (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20,
        }

    def stages(self, lo: float, hi: float) -> list[dict]:
        """Stages submitted in ``[lo, hi]`` (epoch seconds)."""
        # PySpark 4.1: stageList(statuses, details, withSummaries,
        # unsortedQuantiles, taskStatus); null statuses = all
        every = self._store.stageList(None, False, False, self._quantiles, None)
        out = (self._stage(sd, hi) for sd in self._conv.asJava(every))
        return [s for s in out if s is not None and lo <= s["start"] <= hi]

    def group(self, group: str) -> tuple[int, list[dict]]:
        """(jobs, stages) of the jobs run under job group ``group``."""
        jobs = self._sc.statusTracker().getJobIdsForGroup(group)
        out, seen = [], set()
        for job in jobs:
            for sid in self._conv.asJava(self._store.job(job).stageIds()):
                if sid not in seen:
                    seen.add(sid)
                    attempts = self._store.stageData(sid, False, None, False, self._quantiles)
                    out.extend(self._stage(sd, time.time()) for sd in self._conv.asJava(attempts))
        return len(jobs), [s for s in out if s is not None]

    def held_mb(self) -> float:
        """Memory and disk held by persisted RDD blocks right now."""
        return sum(
            (r.memoryUsed() + r.diskUsed()) / 2**20
            for r in self._conv.asJava(self._store.rddList(True))
        )


def stage_totals(stages: list[dict], window: tuple[float, float]) -> dict:
    """Sums over stages, plus the part of ``window`` no stage covers."""
    t = {
        "stages": len(stages),
        "tasks": sum(s["tasks"] for s in stages),
    }
    for k in ("run_s", "cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
        t[k] = sum(s[k] for s in stages)
    lo, hi = window
    busy = covered([(max(lo, s["start"]), min(hi, s["end"])) for s in stages if s["end"] > lo and s["start"] < hi])
    t["driver_gap_s"] = (hi - lo) - busy
    return t


# -- memory ---------------------------------------------------------------


def _status(pid: int) -> tuple[str, int]:
    """(command name, ``VmHWM`` in kB) of ``pid``; ("", 0) once it is gone."""
    name, kb = "", 0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("Name:"):
                    name = line.split(None, 1)[1].strip()
                elif line.startswith("VmHWM:"):
                    kb = int(line.split()[1])
    except OSError:
        pass
    return name, kb


def _children(pid: int) -> list[int]:
    out = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as f:
                out.extend(int(p) for p in f.read().split())
        except OSError:
            pass
    return out


class PeakRss:
    """Peak over time of the summed ``VmHWM`` of this process and all
    its descendants (the JVM, the Python daemon and workers), except
    the pids in ``exclude`` (harness processes and their trees)."""

    def __init__(self, interval_s: float = 0.25):
        self.exclude: set[int] = set()
        self.peak_kb = 0
        self._stop = threading.Event()
        self._interval = interval_s
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        total, todo = 0, [(os.getpid(), "")]
        while todo:
            pid, parent = todo.pop()
            if pid in self.exclude:
                continue
            name, kb = _status(pid)
            if name == "java" and parent == "java":
                # the JVM forking a helper command, caught before its
                # exec: the child shares the JVM's pages and its VmHWM
                # repeats the JVM's
                continue
            total += kb
            todo.extend((c, name) for c in _children(pid))
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024
