"""``pubsub_stream``: a KCL-style consumer with per-batch checkpoint.

The consumer is the engine's public surface,
``api.SubscriberBuilder().with_kinesis(client_factory=..., position_dir=...)
.build().process(spark, stream, handler, checkpoint, processingTime="0 seconds")``,
with the default parallel reader. The handler collects each message's
uuid, payload digest, scheduled time and shard to the driver; the end
of that collect is the message's result time.

Three phases, each on a fresh stub stream; a separate generator process
(``perfbench/generator.py``) writes the first two:

- operating: open loop at ``RATE`` messages/s for ``LEAD_S + seconds``,
  with Zipf-skewed partition keys. Latency runs from a message's
  scheduled time to its result time, for the messages due after the
  lead-in. The backlog (messages due minus messages delivered) must not
  grow (``perfbench/backlog.py``): if it does, the consumer fell behind,
  and the run counts one failed operation.
- saturated: ``SATURATED`` messages wait in the stream before its query
  starts. Capacity is the delivered rate while that backlog is pending:
  rows over time from the end of the first batch to the end of the one
  before the last.
- round trip (``perfbench/roundtrip.py``), in the traced pass only: the
  engine publishes the 100k ``events`` messages and backfills them with
  the batch reader. Its rates are per-layer metrics, and the timed runs
  carry no cost that their end-to-end metrics do not use.

Every published uuid must arrive with its payload digest intact. Set-up
samples are the time from ``process()`` to the first handler call, one
per query. ``work`` drains a small backlog alone, written from the
driver, for the tracing overhead; the single-core reference drains one
too.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import threading
import time
from datetime import datetime

import numpy as np
from pyspark.sql import functions as F

from perfbench import backlog, generator, inputs, roundtrip, stub
from watermill_kinesis_spark.api import SubscriberBuilder

#: operating rate, messages/s: under a tenth of the saturated capacity
#: at local[4], so the backlog stays flat
RATE = 2000.0
#: messages waiting before the operating phase's first batch
WARM = 2000
#: operating-phase seconds before latency is counted: the JVM is still
#: compiling the streaming path for several seconds after the first
#: batch, longer when the box is busy
LEAD_S = 8.0
#: saturated backlog: six triggers of the reader's per-trigger budget
SATURATED = 6 * backlog.TRIGGER_BUDGET
#: backlog of ``work``, which times it whole
WORK_BACKLOG = 2 * backlog.TRIGGER_BUDGET
#: backlog of the single-core reference: ``_capacity`` needs 3 batches
CORE1_BACKLOG = 3 * backlog.TRIGGER_BUDGET
#: longest wait for a phase to deliver everything
DRAIN_TIMEOUT_S = 60.0
#: progress phases of one trigger, in the order the engine runs them
_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


class Consumer:
    """One ``Subscriber.process`` query on one stub stream."""

    def __init__(self, ctx, stream: str):
        self.ctx = ctx
        self.stream = stream
        self.batches: list[dict] = []
        self.rows = 0
        self.first_call: float | None = None
        self._cond = threading.Condition()

    def _handle(self, batch_df, epoch_id: int) -> None:
        start = time.time()
        if self.first_call is None:
            self.first_call = start
        with self.ctx.tracer.span("api.handler", trace=self.stream):
            table = batch_df.select(
                "uuid",
                F.md5("payload").alias("digest"),
                F.col("metadata").getItem("sched").alias("sched"),
                F.col("metadata").getItem("shardID").alias("shard"),
            ).toArrow()
        end = time.time()
        with self._cond:
            self.batches.append({"epoch": epoch_id, "start": start, "end": end, "table": table})
            self.rows += table.num_rows
            self._cond.notify_all()

    def start(self) -> None:
        ctx = self.ctx
        self.sub = (
            SubscriberBuilder()
            .with_kinesis(client_factory=stub.FACTORY, position_dir=ctx.path("positions"))
            .build()
        )
        # keep every trigger's progress report for the per-layer split
        ctx.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
        self.t_call = time.time()
        with ctx.tracer.span("api.process", trace=self.stream):
            self.query = self.sub.process(
                ctx.spark,
                self.stream,
                self._handle,
                checkpoint_dir=ctx.path("checkpoints", self.stream),
                processingTime="0 seconds",
            )

    def wait_rows(self, n: int) -> None:
        deadline = time.time() + DRAIN_TIMEOUT_S
        with self._cond:
            while self.rows < n and time.time() < deadline:
                if not self.query.isActive:
                    raise RuntimeError(f"query on {self.stream} died: {self.query.exception()}")
                self._cond.wait(0.5)

    def stop(self) -> None:
        with self.ctx.tracer.span("api.close", trace=self.stream):
            self.sub.close()

    @property
    def setup_s(self) -> float:
        return (self.first_call or time.time()) - self.t_call

    def delivered(self):
        """(batch, uuids, digests) in epoch order."""
        for b in sorted(self.batches, key=lambda b: b["epoch"]):
            t = b["table"]
            yield b, t.column("uuid").to_pylist(), t.column("digest").to_pylist()


def check(ctx, consumer: Consumer, want: dict[str, str]) -> dict:
    """Every uuid of ``want`` delivered with its payload digest."""
    seen: dict[str, int] = {}
    bad = 0
    for _, uuids, digests in consumer.delivered():
        for u, d in zip(uuids, digests):
            seen[u] = seen.get(u, 0) + 1
            bad += want.get(u) != d
    failed = sum(1 for u in want if u not in seen) + bad
    ctx.count(attempted=len(want), failed=failed)
    return {
        "published": len(want),
        "undelivered": failed,
        "duplicates": sum(c - 1 for c in seen.values()),
    }


def _percentile(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q)) if len(values) else 0.0


def _operating_stats(ctx, c: Consumer, start: float, n: int) -> dict:
    """Latency, backlog, handler time and shard skew of the open loop."""
    lat, handler_ms, skews, rows = [], [], [], []
    shards = [f"shardId-{i:012d}" for i in range(stub.N_SHARDS)]
    for b, uuids, _ in c.delivered():
        t = b["table"]
        sched = [float(s) for s, u in zip(t.column("sched").to_pylist(), uuids) if ".warm-" not in u]
        if not sched:
            continue
        lat.extend((b["end"] - s) * 1000 for s in sched if s >= start + LEAD_S)
        rows.append((b["end"], len(sched)))
        handler_ms.append((b["end"] - b["start"]) * 1000)
        per_shard = [t.column("shard").to_pylist().count(s) for s in shards]
        skews.append(max(per_shard) / (sum(per_shard) / len(shards)))
    # while the schedule runs; the drain after it is not the operating point
    points = [p for p in backlog.samples(rows, start, RATE, n) if p[0] <= start + LEAD_S + ctx.seconds]
    return {
        "latency_ms": lat,
        "valid": backlog.valid(points, RATE),
        "layer": {
            "pubsub.backlog_growth_msgs_per_s": backlog.growth(points),
            "pubsub.backlog_max_msgs": max((b for _, b in points), default=0),
            "pubsub.handler_ms_p50": _percentile(handler_ms, 50),
            "kinesis_aws.shard_skew": statistics.median(skews) if skews else 0.0,
        },
    }


def _capacity(c: Consumer) -> tuple[float, float]:
    """(messages/s, seconds) over the batches after the first and before
    the last non-empty one."""
    full = [b for b, _, _ in c.delivered() if b["table"].num_rows]
    if len(full) < 3:
        raise RuntimeError(f"saturated phase ran {len(full)} non-empty batches, need 3")
    span_s = full[-2]["end"] - full[0]["end"]
    return sum(b["table"].num_rows for b in full[1:-1]) / span_s, span_s


def _generator(ctx, op: str, sat: str, backlog: int, seconds: float):
    go = ctx.path("generator", f"{op}.go")
    summary = ctx.path("generator", f"{op}.json")
    args = [op, sat, ctx.seed, RATE, seconds, backlog, go, summary]
    proc = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "generator.py")]
        + [str(a) for a in args]
    )
    ctx.rss.exclude.add(proc.pid)
    return proc, go, summary


def prepare(ctx) -> None:
    ctx.data_dir = ctx.path("data", "tables")
    inputs.make(ctx, ctx.data_dir, ("events",))


def _drain(ctx, label: str, n: int) -> tuple[Consumer, float]:
    """A backlog of ``n`` messages written from the driver, drained and
    checked; returns the consumer and the seconds from ``process()`` to
    the last message."""
    c = Consumer(ctx, ctx.fresh(label))
    stub.create_stream(c.stream).put_records(
        StreamName=c.stream,
        Records=generator.records(ctx.seed, c.stream, generator.uniform_keys(n), 0.0),
    )
    t = time.time()
    c.start()
    c.wait_rows(n)
    drained = time.time() - t
    c.stop()
    check(ctx, c, generator.expected(ctx.seed, c.stream, n))
    ctx.log(f"{c.stream}: {n} drained in {drained:.2f}s")
    return c, drained


def work(ctx) -> float:
    return _drain(ctx, "satwork", WORK_BACKLOG)[1]


def measure(ctx) -> dict:
    op, sat = Consumer(ctx, ctx.fresh("op")), Consumer(ctx, ctx.fresh("sat"))
    stub.create_stream(sat.stream)
    warm_label = f"{op.stream}.warm"
    stub.create_stream(op.stream).put_records(
        StreamName=op.stream,
        Records=generator.records(ctx.seed, warm_label, generator.uniform_keys(WARM), 0.0),
    )
    proc, go, summary = _generator(ctx, op.stream, sat.stream, SATURATED, LEAD_S + ctx.seconds)
    try:
        op.start()
        op.wait_rows(WARM)
        ctx.log(f"{op.stream}: first batch after {op.setup_s:.2f}s")
        while not os.path.exists(go + ".ready") and proc.poll() is None:
            time.sleep(0.05)  # the generator is still writing the backlog
        start = time.time() + 0.2
        with open(go + ".tmp", "w") as f:
            f.write(repr(start))
        os.rename(go + ".tmp", go)
        proc.wait(timeout=LEAD_S + ctx.seconds + DRAIN_TIMEOUT_S)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0:
        raise RuntimeError(f"generator exited with {proc.returncode}")
    n = int(RATE * (LEAD_S + ctx.seconds))
    want_op = generator.expected(ctx.seed, warm_label, WARM)
    want_op.update(generator.expected(ctx.seed, op.stream, n))
    op.wait_rows(len(want_op))
    op.stop()
    ctx.log(f"{op.stream}: {op.rows} delivered")

    sat.start()
    sat.wait_rows(SATURATED)
    sat.stop()
    capacity = _capacity(sat)[0]
    ctx.log(f"{sat.stream}: {sat.rows} delivered, {capacity:.0f} msgs/s")

    layer = roundtrip.round_trip(ctx) if ctx.tracer.enabled else {}
    stats = _operating_stats(ctx, op, start, n)
    if not stats["valid"]:
        ctx.log(f"{op.stream}: the backlog grew, the consumer fell behind {RATE:.0f} msgs/s")
    ctx.count(attempted=1, failed=0 if stats["valid"] else 1)
    checks = [
        check(ctx, op, want_op),
        check(ctx, sat, generator.expected(ctx.seed, sat.stream, SATURATED)),
    ]
    published = sum(c["published"] for c in checks)
    with open(summary) as f:
        late_ms = json.load(f)["late_ms_max"]
    layer.update(stats["layer"])
    layer.update({
        "pubsub.generator_late_ms_max": late_ms,
        "pubsub.latency_p90_ms": _percentile(stats["latency_ms"], 90),
        "pubsub.latency_p99_ms": _percentile(stats["latency_ms"], 99),
        "pubsub.published": published,
        "pubsub.failed_ratio": sum(c["undelivered"] for c in checks) / published,
        "pubsub.dup_ratio": sum(c["duplicates"] for c in checks) / published,
    })
    if ctx.tracer.enabled:
        layer.update(_progress(ctx, op, sat))
    return {
        "e2e": {
            "throughput_per_s": capacity,
            "latency_p50_ms": _percentile(stats["latency_ms"], 50),
        },
        "setup": [op.setup_s, sat.setup_s],
        "layer": layer,
    }


def _progress(ctx, op: Consumer, sat: Consumer) -> dict:
    """Micro-batch phases from the queries' progress reports, also
    recorded as spans: ``stream.batch`` per trigger, with one child per
    phase laid end to end in run order (the report gives durations
    only)."""
    for c in (op, sat):
        for p in c.query.recentProgress:
            t = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            d = p.durationMs
            ctx.tracer.add("stream.batch", c.stream, t, t + d.get("triggerExecution", 0) / 1000)
            for phase in _PHASES:
                if d.get(phase):
                    ctx.tracer.add(f"stream.{phase}", c.stream, t, t + d[phase] / 1000)
                    t += d[phase] / 1000
    op_p = [p for p in op.query.recentProgress if p.numInputRows > 0]
    sat_p = [p for p in sat.query.recentProgress if p.numInputRows > 0]

    def p(ps, key, q=50):
        return _percentile([x.durationMs.get(key, 0) for x in ps], q)

    return {
        "stream.latest_offset_ms_p50": p(op_p, "latestOffset"),
        "stream.query_planning_ms_p50": p(op_p, "queryPlanning"),
        "stream.wal_commit_ms_p50": p(op_p, "walCommit"),
        "stream.commit_offsets_ms_p50": p(op_p, "commitOffsets"),
        "stream.trigger_ms_p50": p(op_p, "triggerExecution"),
        "stream.trigger_ms_p99": p(op_p, "triggerExecution", 99),
        "stream.batches": len(op_p),
        "stream.add_batch_ms_p50": p(sat_p, "addBatch"),
        "stream.rows_per_batch_p50": _percentile([x.numInputRows for x in sat_p], 50),
    }


def from_spans(ctx, spans: list[dict]) -> dict:
    """Service counts of the traced pass: the streaming reader's (spans
    of the operating and saturated streams) and the round trip's."""
    out = roundtrip.from_spans(ctx, spans)
    streams = {s["trace"] for s in spans if s["name"] == "api.process"}
    spans = [s for s in spans if s["trace"] in streams]
    calls = [s for s in spans if s["name"] == "service.get_records"]
    n = max(len(calls), 1)
    return {
        **out,
        "kinesis_aws.get_records_calls": len(calls),
        "kinesis_aws.get_records_useful_ratio": sum(1 for s in calls if s["records"]) / n,
        "kinesis_aws.records_per_poll": sum(s["records"] for s in calls) / n,
        "kinesis_aws.iterator_calls": sum(1 for s in spans if s["name"] == "service.get_shard_iterator"),
        "kinesis_aws.service_wait_s": sum(
            s["end"] - s["start"] for s in spans if s["name"].startswith("service.")
        ),
    }


def one_core(ctx) -> dict:
    """The saturated phase and the publish again, on a ``local[1]``
    session."""
    ctx.start_session(1)
    return {
        "pubsub.capacity_1core_msgs_per_s": _capacity(_drain(ctx, "sat1core", CORE1_BACKLOG)[0])[0],
        **roundtrip.publish_1core(ctx),
    }
