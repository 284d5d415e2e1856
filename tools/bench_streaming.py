"""Streaming-layer throughput benchmark.

The reference publishes no benchmark numbers (BASELINE.md); its
practical ceiling is the Kinesis service limit — 1,000 records/s or
1 MB/s write per shard, 2 MB/s read per shard — and its unit test
moves 1,000 messages through an in-memory fake (reference
subscriber_test.go). This tool measures the engine's equivalents on
one node so the throughput comparison in BASELINE.md is grounded in
numbers, not hand-waving:

  codec_marshal   messages → wire JSON envelopes (count only, JVM)
  codec_roundtrip messages → wire → messages (decode + corrupt check)
  pubsub_e2e      publish to a topic dir + streaming read-back with
                  checkpoint (the full subscribe path incl. decode)
  kinesis_aws_parallel_read
                  spark.readStream.format('kinesis_aws') (executor-
                  parallel GetRecords) against the file-backed stub (GetRecords on executor python
                  workers, position fences, decode) — the 100 TB read
                  path, previously correctness-tested but unmeasured

    PYTHONPATH=/root/repo python tools/bench_streaming.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
import uuid as uuidlib

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from watermill_kinesis_spark import codec  # noqa: E402
from watermill_kinesis_spark.operators.streaming_batch import (  # noqa: E402
    _event_messages,
)
from watermill_kinesis_spark.session import get_spark  # noqa: E402
from watermill_kinesis_spark.streaming import source as stream_source  # noqa: E402
from watermill_kinesis_spark.streaming.sink import (  # noqa: E402
    DirectoryPublisher,
    publish_batch,
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_spark()
    msgs = _event_messages(spark, sf_dir).persist()
    n = msgs.count()  # warm the input (exclude scan from codec timing)

    results: dict[str, float] = {"n_messages": n}

    t0 = time.perf_counter()
    assert codec.marshal(msgs).count() == n
    results["codec_marshal_msgs_per_s"] = round(n / (time.perf_counter() - t0))

    # count() PRUNES a deterministic encode projection (measured r10:
    # the legacy marshal row runs at near scan speed), so the forced
    # rows aggregate sum(length(data)) — the encode must run to
    # produce wire bytes. Legacy rows kept for cross-round continuity.
    t0 = time.perf_counter()
    codec.marshal(msgs).agg(F.sum(F.length("data"))).collect()
    results["codec_marshal_forced_msgs_per_s"] = round(
        n / (time.perf_counter() - t0)
    )

    t0 = time.perf_counter()
    wire = codec.marshal(msgs)
    decoded = codec.unmarshal(wire, drop_corrupt=True)
    assert decoded.count() == n
    results["codec_roundtrip_msgs_per_s"] = round(n / (time.perf_counter() - t0))

    # the protobuf envelope codec (the reference's marshaller.go:24
    # TODO, shipped r9) measured beside JSON so wire-format choice is
    # a benchmarked trade, not a guess (VERDICT r9 task 6). Since r11
    # the default encode path is the JVM expression
    # protocodec.encode_envelope_col (no Python worker in the plan;
    # byte-parity-pinned against the runtime encoder), closing the r10
    # ~9× forced-marshal gap; the Arrow-batched pandas encoder is kept
    # as engine="pandas" and measured alongside for continuity — the
    # decode path stays runtime-backed either way.
    from watermill_kinesis_spark import protocodec

    t0 = time.perf_counter()
    assert protocodec.marshal_proto(msgs).count() == n
    results["codec_marshal_proto_msgs_per_s"] = round(
        n / (time.perf_counter() - t0)
    )

    t0 = time.perf_counter()
    protocodec.marshal_proto(msgs).agg(F.sum(F.length("data"))).collect()
    results["codec_marshal_proto_forced_msgs_per_s"] = round(
        n / (time.perf_counter() - t0)
    )

    t0 = time.perf_counter()
    protocodec.marshal_proto(msgs, engine="pandas").agg(
        F.sum(F.length("data"))
    ).collect()
    results["codec_marshal_proto_pandas_forced_msgs_per_s"] = round(
        n / (time.perf_counter() - t0)
    )

    # wire-size side of the trade: mean envelope bytes per format
    results["wire_bytes_avg_json"] = round(
        codec.marshal(msgs).agg(F.avg(F.octet_length("data"))).first()[0], 1
    )
    results["wire_bytes_avg_proto"] = round(
        protocodec.marshal_proto(msgs)
        .agg(F.avg(F.octet_length("data")))
        .first()[0],
        1,
    )

    t0 = time.perf_counter()
    wire_p = protocodec.marshal_proto(msgs)
    decoded_p = protocodec.unmarshal_proto(wire_p, drop_corrupt=True)
    assert decoded_p.count() == n
    results["codec_roundtrip_proto_msgs_per_s"] = round(
        n / (time.perf_counter() - t0)
    )

    base = tempfile.mkdtemp(prefix=f"wk_sbench_{uuidlib.uuid4().hex[:6]}_")
    topic = os.path.join(base, "topic")
    ckpt = os.path.join(base, "ckpt")
    t0 = time.perf_counter()
    publish_batch(msgs, lambda: DirectoryPublisher(topic, n_shards=8))
    q = (
        stream_source.subscribe(spark, topic)
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    results["pubsub_e2e_msgs_per_s"] = round(n / (time.perf_counter() - t0))

    results["kinesis_aws_parallel_read_msgs_per_s"] = _bench_kinesis_parallel(
        spark, base
    )
    results["kinesis_aws_poll_loop_msgs_per_s"] = _bench_kinesis_poll_loop(base)
    results.update(
        _bench_kinesis_sustained(spark, base, "sustained", 8, 20_000, 1000)
    )
    # the service-limit budget: GetRecords allows Limit=10000, so the
    # per-trigger budget is MAX_POLLS×10000 = 50k/shard — the knob a
    # production deployment actually turns to amortize the trigger tax
    results.update(
        _bench_kinesis_sustained(spark, base, "maxbudget", 4, 300_000, 10_000)
    )

    results["reference_ceiling_msgs_per_s_per_shard"] = 1000  # Kinesis write limit
    msgs.unpersist()
    print(json.dumps(results))
    spark.stop()


#: records seeded for the parallel-source bench: 8 shards × the
#: per-trigger poll budget (MAX_POLLS_PER_BATCH × Limit = 5000), so
#: one availableNow micro-batch drains everything
KINESIS_BENCH_SHARDS = 8
KINESIS_BENCH_PER_SHARD = 5000


def _bench_kinesis_poll_loop(base: str) -> int:
    """Time the shard poll loop (``_drain_shard``, the loop every
    kinesis_aws reader runs) over an IN-MEMORY stub seeded with the
    same stream, draining all shards sequentially in one process — the
    per-record GetRecords→wire-row cost with zero Spark machinery AND
    zero stub file-reload overhead (the file-backed stub re-parses its
    whole state per call, which would swamp the number), isolating
    transport-loop cost from the parallel row's micro-batch tax."""
    from watermill_kinesis_spark.sources.kinesis_aws import (
        _drain_shard,
        _list_shards,
    )
    from watermill_kinesis_spark.sources.kinesis_stub import (
        FileStubKinesisClient,
        StubKinesisClient,
    )

    stub_dir = os.path.join(base, "stub")  # seeded by the parallel bench
    seeded = FileStubKinesisClient(stub_dir)
    mem = StubKinesisClient()
    mem.copy_state_from(seeded)
    t0 = time.perf_counter()
    total = 0
    for shard in _list_shards(mem, "bench"):
        for rows, _ in _drain_shard(mem, "bench", shard["ShardId"], None, 1000):
            total += len(rows)
    dt = time.perf_counter() - t0
    n = KINESIS_BENCH_SHARDS * KINESIS_BENCH_PER_SHARD
    assert total == n, f"poll loop lost rows: {total}/{n}"
    return round(n / dt)


def _bench_kinesis_parallel(spark, base: str) -> int:
    """Time the executor-parallel kinesis_aws read: seed wire
    envelopes into the file-backed stub (one state write — per-put
    saves would be quadratic), then readStream → unmarshal → count
    through a real micro-batch with position fences."""
    import base64
    from datetime import datetime, timezone

    from watermill_kinesis_spark import codec
    from watermill_kinesis_spark.sources import kinesis_aws
    from watermill_kinesis_spark.sources.kinesis_stub import FileStubKinesisClient

    stub_dir = os.path.join(base, "stub")
    client = FileStubKinesisClient(stub_dir)
    ts = datetime.fromtimestamp(1_700_000_000, tz=timezone.utc)
    seq = 0
    for s in range(KINESIS_BENCH_SHARDS):
        shard = f"shardId-{s:012d}"
        recs = []
        for i in range(KINESIS_BENCH_PER_SHARD):
            seq += 1
            env = json.dumps(
                {
                    "watermill_message_uuid": f"uuid-{s}-{i}",
                    "data": base64.b64encode(f"payload-{s}-{i}".encode()).decode(),
                    "headers": {"partitionKey": f"k{s}"},
                }
            )
            recs.append(
                {
                    "Data": env.encode(),
                    "PartitionKey": f"k{s}",
                    "SequenceNumber": str(seq),
                    "ApproximateArrivalTimestamp": ts,
                }
            )
        client._shards[shard] = recs
    client._seq = seq
    client.dump_state()
    n = KINESIS_BENCH_SHARDS * KINESIS_BENCH_PER_SHARD

    kinesis_aws.register(spark)
    out = {"n": 0}

    def sink(batch_df, batch_id):
        out["n"] += batch_df.count()

    t0 = time.perf_counter()
    q = (
        spark.readStream.format("kinesis_aws")
        .option("streamName", "bench")
        .option(
            "clientfactory",
            "watermill_kinesis_spark.sources.kinesis_stub:file_stub_client",
        )
        .option("stubdir", stub_dir)
        .option("positionDir", os.path.join(base, "pos"))
        .load()
    )
    msgs = codec.unmarshal(q, drop_corrupt=True)
    run = (
        msgs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(base, "kckpt"))
        .trigger(availableNow=True)
        .start()
    )
    run.awaitTermination()
    dt = time.perf_counter() - t0
    assert out["n"] == n, f"parallel read lost rows: {out['n']}/{n}"
    return round(n / dt)


#: a sustained run must produce at least this many non-empty batches
#: for the steady-state slope to mean anything
SUSTAINED_BATCHES_MIN = 3


def _bench_kinesis_sustained(
    spark, base: str, label: str, n_shards: int, per_shard: int, maxrecords: int
) -> dict:
    """r6 VERDICT task 5: the single availableNow measurement charged
    ~7 s of fixed start-up tax to one 40k-record batch (~5.4k msgs/s
    vs the ~500k msgs/s raw poll loop). Here the SAME source runs a
    continuous processingTime=0 query over 4× the data: batch 0 pays
    the start-up tax, batches 1..n measure the amortized per-trigger
    rate. Reported: steady-state msgs/s (excluding batch 0), the batch-0
    tax in seconds, and the batch count."""
    import base64
    import threading
    from datetime import datetime, timezone

    from watermill_kinesis_spark import codec as _codec
    from watermill_kinesis_spark.sources import kinesis_aws
    from watermill_kinesis_spark.sources.kinesis_stub import FileStubKinesisClient

    sdir = os.path.join(base, f"stub_{label}")
    client = FileStubKinesisClient(sdir)
    ts = datetime.fromtimestamp(1_700_000_000, tz=timezone.utc)
    seq = 0
    for s in range(n_shards):
        shard = f"shardId-{s:012d}"
        recs = []
        for i in range(per_shard):
            seq += 1
            env = json.dumps(
                {
                    "watermill_message_uuid": f"u{s}-{i}",
                    "data": base64.b64encode(b"p").decode(),
                    "headers": {"partitionKey": f"k{s}"},
                }
            )
            recs.append(
                {
                    "Data": env.encode(),
                    "PartitionKey": f"k{s}",
                    "SequenceNumber": str(seq),
                    "ApproximateArrivalTimestamp": ts,
                }
            )
        client._shards[shard] = recs
    client._seq = seq
    client.dump_state()
    n = n_shards * per_shard

    kinesis_aws.register(spark)
    lock = threading.Lock()
    batches: list[tuple[float, int]] = []  # (end_time, rows)
    done = threading.Event()

    def sink(batch_df, batch_id):
        rows = batch_df.count()
        with lock:
            batches.append((time.perf_counter(), rows))
            if sum(r for _, r in batches) >= n:
                done.set()

    q = (
        spark.readStream.format("kinesis_aws")
        .option("streamName", "bench")
        .option(
            "clientfactory",
            "watermill_kinesis_spark.sources.kinesis_stub:file_stub_client",
        )
        .option("stubdir", sdir)
        .option("maxrecords", str(maxrecords))
        .option("positionDir", os.path.join(base, f"pos_{label}"))
        .load()
    )
    msgs = _codec.unmarshal(q, drop_corrupt=True)
    t0 = time.perf_counter()
    run = (
        msgs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(base, f"kckpt_{label}"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    done.wait(timeout=600)
    run.stop()
    with lock:
        got = [(t, r) for t, r in batches if r > 0]
    total = sum(r for _, r in got)
    assert total == n, f"sustained read lost rows: {total}/{n}"
    assert len(got) >= SUSTAINED_BATCHES_MIN, f"only {len(got)} batches"
    batch0_end, batch0_rows = got[0]
    steady_rows = total - batch0_rows
    steady_dt = got[-1][0] - batch0_end
    return {
        f"kinesis_aws_{label}_msgs_per_s": round(steady_rows / steady_dt),
        f"kinesis_aws_{label}_batch0_sec": round(batch0_end - t0, 2),
        f"kinesis_aws_{label}_n_batches": len(got),
    }


if __name__ == "__main__":
    main()
