"""Transport round trips through Spark's format machinery, as registered
operators.

The reference's entire I/O surface is "publish to the stream service,
subscribe back" (reference publisher.go:64-86, subscriber.go:49-76).
These operators run that loop through the ``kinesis_aws`` Python Data
Source: events → messages → ``df.write.format("kinesis_aws")``
(executor-side chunked PutRecords) → ``spark.read`` /
``spark.readStream.format("kinesis_aws")`` (one partition per shard,
GetRecords on executors) → unmarshal → aggregate. The client is the
boto3-shaped file-backed stub (``kinesis_stub.FileStubKinesisClient``),
so the exact code path that talks to AWS runs under the oracle gate
with no AWS; the only difference from production is the client factory
option. The DuckDB oracle computes the same aggregate straight from
``events`` — transport must be lossless.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from watermill_kinesis_spark import codec
from watermill_kinesis_spark.operators.messages import messages_from_events
from watermill_kinesis_spark.operators.streaming_batch import drain
from watermill_kinesis_spark.registry import query
from watermill_kinesis_spark.sources import kinesis_aws
from watermill_kinesis_spark.sources.kinesis_stub import FileStubKinesisClient

_ROUNDTRIP_ORACLE = """
    SELECT event_type,
           COUNT(*) AS n_messages,
           COUNT(DISTINCT user_id) AS n_keys
    FROM events
    GROUP BY event_type
    """


def _stub_stream(io, stub_dir: str):
    """``io`` (a reader or writer) bound to the ``gate`` stream of the
    file-backed stub client in ``stub_dir``."""
    return (
        io.format(kinesis_aws.FORMAT_NAME)
        .option("streamName", "gate")
        .option(
            "clientfactory",
            "watermill_kinesis_spark.sources.kinesis_stub:file_stub_client",
        )
        .option("stubdir", stub_dir)
    )


@query(
    "custom_source_roundtrip",
    oracle=_ROUNDTRIP_ORACLE,
    tags=("codec", "layer-a", "source", "custom-format"),
)
@query(
    "aws_transport_roundtrip",
    oracle=_ROUNDTRIP_ORACLE,
    tags=("codec", "layer-a", "source", "kinesis-aws"),
)
def aws_transport_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Publish every event through ``df.write.format("kinesis_aws")``
    (executor-side chunked PutRecords) and read the stream back with
    the executor-parallel batch reader; per-type counts and distinct
    partition keys must survive the transport bit-for-bit (no loss, no
    duplication). (The stub appends each PutRecords batch as one
    journal line and compacts on the log-structured doubling rule —
    O(n) bytes across n puts, like the real service's appends — so
    this entry runs in replica-scale sweeps directly.)"""
    kinesis_aws.register(spark)
    wire = codec.marshal(messages_from_events(spark, sf_dir, fanout=True))
    with tempfile.TemporaryDirectory(prefix="kinesis_aws_rt_") as stub_dir:
        _stub_stream(wire.write, stub_dir).mode("append").save()
        back = _stub_stream(spark.read, stub_dir).load()
        msgs = codec.unmarshal(back, drop_corrupt=False)
        # one row per event type, held before the stub's files go
        return (
            msgs.select(
                F.col("metadata").getItem("eventType").alias("event_type"),
                F.col("metadata").getItem("partitionKey").alias("partition_key"),
            )
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_messages"),
                F.countDistinct("partition_key").alias("n_keys"),
            )
            .localCheckpoint()
        )


@query("custom_source_stream", tags=("streaming", "source", "custom-format"))
def custom_source_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same transport consumed as a STREAM: messages published in
    two batches to a 4-shard stream through the kinesis_aws writer,
    then ``spark.readStream.format("kinesis_aws")`` drains it with an
    availableNow trigger through a checkpointed memory sink. Offsets
    are per-shard sequence numbers in the checkpoint (reference
    subscriber.go:61-75 checkpoint semantics), so counts equal the
    published total exactly — no loss, no duplication on a clean run.
    Rows-only: live streaming offsets are not SQL-expressible;
    restart/replay invariants are asserted in
    tests/test_kinesis_aws_parallel.py."""
    kinesis_aws.register(spark)
    msgs = messages_from_events(spark, sf_dir, fanout=True)
    uid = F.col("uuid").cast("bigint")
    with tempfile.TemporaryDirectory(prefix="kinesis_aws_stream_") as base:
        stub_dir = os.path.join(base, "stub")
        client = FileStubKinesisClient(stub_dir)
        for i in range(4):
            client.add_shard(f"shardId-{i:012d}")
        for lo, hi in ((0, 1500), (1500, 2000)):  # two publish batches
            wire = codec.marshal(msgs.where((uid >= lo) & (uid < hi)))
            _stub_stream(wire.write, stub_dir).mode("append").save()
        stream = (
            _stub_stream(spark.readStream, stub_dir)
            .option("positionDir", os.path.join(base, "pos"))
            .load()
        )
        decoded = codec.unmarshal(stream, drop_corrupt=True).select(
            F.col("metadata").getItem("eventType").alias("event_type"),
            F.col("metadata").getItem("shardID").alias("shard_id"),
        )
        rows = drain(decoded, os.path.join(base, "ckpt"))
    return (
        rows.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_messages"),
            F.countDistinct("shard_id").alias("n_shards"),
        )
        .orderBy("event_type")
    )
