"""The benchmark's metrics: names, units, and what each layer metric
should move.

``END_TO_END`` and ``PER_LAYER`` are the lists ``BENCHMARK.json``
declares. Every workload prints all of them: a workload that bypasses a
layer reports that layer's metrics as measured, which is zero work.
Each ``PER_LAYER`` entry records the end-to-end metric it should move
and on which workloads. ``BASES`` gives every ratio the count it is a
share of; that count is printed too.
"""

from __future__ import annotations

import re

from perfbench.headline import QUERIES

WORKLOADS = ("pubsub_stream", "analytics_headline")
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

#: name -> (unit, better)
END_TO_END: dict[str, tuple[str, str]] = {
    "setup_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "throughput_per_s": ("1/s", "higher"),
    "latency_p50_ms": ("ms", "lower"),
}

_P, _A = WORKLOADS
_ALL = WORKLOADS

#: name -> (unit, better, end-to-end metric it should move, workloads)
PER_LAYER: dict[str, tuple[str, str, tuple[str, ...]]] = {
    # micro-batch cost per trigger (operating phase)
    "stream.latest_offset_ms_p50": ("ms", "lower", "latency_p50_ms", (_P,)),
    "stream.query_planning_ms_p50": ("ms", "lower", "latency_p50_ms", (_P,)),
    "stream.wal_commit_ms_p50": ("ms", "lower", "latency_p50_ms", (_P,)),
    "stream.commit_offsets_ms_p50": ("ms", "lower", "latency_p50_ms", (_P,)),
    "stream.trigger_ms_p50": ("ms", "lower", "latency_p50_ms", (_P,)),
    "stream.trigger_ms_p99": ("ms", "lower", "latency_p50_ms", (_P,)),
    "stream.batches": ("count", "higher", "latency_p50_ms", (_P,)),
    # per-row read and decode cost (saturated phase)
    "stream.add_batch_ms_p50": ("ms", "lower", "throughput_per_s", (_P,)),
    "stream.rows_per_batch_p50": ("count", "higher", "throughput_per_s", (_P,)),
    "kinesis_aws.get_records_calls": ("count", "lower", "throughput_per_s", (_P,)),
    "kinesis_aws.get_records_useful_ratio": ("ratio", "higher", "throughput_per_s", (_P,)),
    "kinesis_aws.records_per_poll": ("count", "higher", "throughput_per_s", (_P,)),
    "kinesis_aws.iterator_calls": ("count", "lower", "throughput_per_s", (_P,)),
    "kinesis_aws.service_wait_s": ("s", "lower", "throughput_per_s", (_P,)),
    "codec.unmarshal_msgs_per_s": ("1/s", "higher", "throughput_per_s", (_P,)),
    # shard skew: the slowest shard sets the batch time
    "kinesis_aws.shard_skew": ("ratio", "lower", "latency_p50_ms", (_P,)),
    # validity of the operating point
    "pubsub.backlog_growth_msgs_per_s": ("1/s", "lower", "latency_p50_ms", (_P,)),
    "pubsub.backlog_max_msgs": ("count", "lower", "latency_p50_ms", (_P,)),
    "pubsub.generator_late_ms_max": ("ms", "lower", "latency_p50_ms", (_P,)),
    "pubsub.handler_ms_p50": ("ms", "lower", "latency_p50_ms", (_P,)),
    # the tail: a few slow triggers set it, and on a shared box it
    # spreads too widely between runs to carry a bound
    "pubsub.latency_p90_ms": ("ms", "lower", "latency_p50_ms", (_P,)),
    "pubsub.latency_p99_ms": ("ms", "lower", "latency_p50_ms", (_P,)),
    "pubsub.published": ("count", "higher", "throughput_per_s", (_P,)),
    "pubsub.failed_ratio": ("ratio", "lower", "throughput_per_s", (_P,)),
    "pubsub.dup_ratio": ("ratio", "lower", "throughput_per_s", (_P,)),
    "pubsub.capacity_1core_msgs_per_s": ("1/s", "higher", "throughput_per_s", (_P,)),
    # publish path (the round-trip phase of pubsub_stream)
    "codec.marshal_msgs_per_s": ("1/s", "higher", "throughput_per_s", (_P,)),
    "sink.put_records_calls": ("count", "lower", "throughput_per_s", (_P,)),
    "sink.records_per_put": ("count", "higher", "throughput_per_s", (_P,)),
    "sink.service_wait_s": ("s", "lower", "throughput_per_s", (_P,)),
    "sink.retried_records": ("count", "lower", "throughput_per_s", (_P,)),
    "publish.msgs_per_s": ("1/s", "higher", "throughput_per_s", (_P,)),
    "publish.msgs_per_s_1core": ("1/s", "higher", "throughput_per_s", (_P,)),
    "publish.stages": ("count", "lower", "throughput_per_s", (_P,)),
    "publish.tasks": ("count", "lower", "throughput_per_s", (_P,)),
    "publish.executor_run_s": ("s", "lower", "throughput_per_s", (_P,)),
    "publish.executor_cpu_s": ("s", "lower", "throughput_per_s", (_P,)),
    "publish.shuffle_write_mb": ("MB", "lower", "throughput_per_s", (_P,)),
    "publish.driver_gap_s": ("s", "lower", "throughput_per_s", (_P,)),
    # batch reader
    "backfill.msgs_per_s": ("1/s", "higher", "throughput_per_s", (_P,)),
    "backfill.get_records_calls": ("count", "lower", "throughput_per_s", (_P,)),
    "backfill.service_wait_s": ("s", "lower", "throughput_per_s", (_P,)),
    "roundtrip.messages": ("count", "higher", "throughput_per_s", (_P,)),
    "roundtrip.failed_ratio": ("ratio", "lower", "throughput_per_s", (_P,)),
    # query construction and driver time
    "analytics.build_s": ("s", "lower", "throughput_per_s", (_A,)),
    "analytics.exec_s": ("s", "lower", "throughput_per_s", (_A,)),
    "analytics.driver_gap_s": ("s", "lower", "throughput_per_s", (_A,)),
    "analytics.jobs": ("count", "lower", "throughput_per_s", (_A,)),
    "analytics.stages": ("count", "lower", "throughput_per_s", (_A,)),
    "analytics.tasks": ("count", "lower", "throughput_per_s", (_A,)),
    # executor work
    "analytics.executor_run_s": ("s", "lower", "throughput_per_s", (_A,)),
    "analytics.executor_cpu_s": ("s", "lower", "throughput_per_s", (_A,)),
    "analytics.gc_s": ("s", "lower", "throughput_per_s", (_A,)),
    "analytics.shuffle_read_mb": ("MB", "lower", "throughput_per_s", (_A,)),
    "analytics.shuffle_write_mb": ("MB", "lower", "throughput_per_s", (_A,)),
    "analytics.spill_mb": ("MB", "lower", "throughput_per_s", (_A,)),
    "analytics.jvm_s": ("s", "lower", "throughput_per_s", (_A,)),
    "analytics.python_s": ("s", "lower", "throughput_per_s", (_A,)),
    # leaked materializations
    "analytics.leftover_mb": ("MB", "lower", "peak_rss_mb", (_A,)),
    "analytics.queries": ("count", "higher", "throughput_per_s", (_A,)),
    "analytics.failed_ratio": ("ratio", "lower", "throughput_per_s", (_A,)),
    # the tail: the slowest query's slower executions
    "analytics.latency_p90_ms": ("ms", "lower", "latency_p50_ms", (_A,)),
    # per-layer self time from the traced run's spans
    "self.session_s": ("s", "lower", "setup_s", _ALL),
    "self.api_s": ("s", "lower", "latency_p50_ms", (_P,)),
    "self.stream_s": ("s", "lower", "latency_p50_ms", (_P,)),
    "self.kinesis_aws_s": ("s", "lower", "throughput_per_s", (_P,)),
    "self.service_s": ("s", "lower", "throughput_per_s", (_P,)),
    "self.sink_s": ("s", "lower", "throughput_per_s", (_P,)),
    "self.codec_s": ("s", "lower", "throughput_per_s", (_P,)),
    "self.registry_s": ("s", "lower", "throughput_per_s", (_A,)),
    "self.spark_s": ("s", "lower", "throughput_per_s", _ALL),
    "self.driver_s": ("s", "lower", "throughput_per_s", (_A,)),
    "trace_overhead_pct": ("%", "lower", "throughput_per_s", _ALL),
}
# attribution: the wall time of each headline query
PER_LAYER.update(
    {f"analytics.q.{q}_s": ("s", "lower", "throughput_per_s", (_A,)) for q in QUERIES}
)

#: ratio -> the count it is a share of
BASES = {
    "kinesis_aws.get_records_useful_ratio": "kinesis_aws.get_records_calls",
    "kinesis_aws.shard_skew": "stream.batches",
    "pubsub.failed_ratio": "pubsub.published",
    "pubsub.dup_ratio": "pubsub.published",
    "roundtrip.failed_ratio": "roundtrip.messages",
    "analytics.failed_ratio": "analytics.queries",
}

#: self-time layers (span name prefixes) reported as ``self.<layer>_s``
SELF_LAYERS = tuple(
    n[len("self.") : -len("_s")] for n in PER_LAYER if n.startswith("self.")
)


def payload(trace: bool, values: dict, attempted: int, failed: int, correct: bool) -> dict:
    """The result object printed as the last line: every metric of the
    chosen set, with its unit; a metric not reached is 0."""
    spec = {n: v[0] for n, v in (PER_LAYER if trace else END_TO_END).items()}
    return {
        "correct": bool(correct),
        "attempted": int(max(attempted, 1)),
        "failed": int(failed),
        "metrics": {
            n: {"value": float(values.get(n, 0.0)), "unit": unit}
            for n, unit in spec.items()
        },
    }
