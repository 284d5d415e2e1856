"""AWS Kinesis round trip — publish to and subscribe from a REAL
Kinesis stream (or Localstack) using the deployable transports, the
engine's equivalent of running the reference's example binaries
against ``example/docker-compose.yml``.

    # Localstack (like the reference's harness):
    #   docker run -p 4566:4566 localstack/localstack
    #   aws --endpoint-url http://localhost:4566 kinesis create-stream \
    #       --stream-name example-stream --shard-count 2
    python examples/aws_roundtrip.py example-stream http://localhost:4566

    # Real AWS (credentials from the environment):
    python examples/aws_roundtrip.py my-stream

Requires boto3 (not bundled with the engine). Everything except the
transport — codec, corrupt-skip, checkpointing, close — is the same
code the simulator examples run.
"""

from __future__ import annotations

import os
import sys
import tempfile
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from watermill_kinesis_spark.api import PublisherBuilder, SubscriberBuilder
from watermill_kinesis_spark.schema import MESSAGE_SCHEMA

N_MESSAGES = 100  # matches the reference example (publish/main.go:24-30)


def main() -> None:
    if len(sys.argv) < 2:
        raise SystemExit("usage: aws_roundtrip.py <stream-name> [endpoint-url]")
    stream = sys.argv[1]
    endpoint_url = sys.argv[2] if len(sys.argv) > 2 else None

    spark = (
        SparkSession.builder.master("local[4]").appName("aws-roundtrip").getOrCreate()
    )

    pub = PublisherBuilder().with_kinesis(endpoint_url=endpoint_url).build()
    rows = [
        (
            str(uuid.uuid4()),
            bytearray(f"hello {i}".encode()),
            {"partitionKey": f"key-{i % 4}", "n": str(i)},
        )
        for i in range(N_MESSAGES)
    ]
    msgs = spark.createDataFrame(rows, MESSAGE_SCHEMA)
    pub.publish(stream, msgs)
    print(f"published {N_MESSAGES} messages to {stream}")

    sub = (
        SubscriberBuilder()
        # GetRecords runs on executors, one partition per shard — on
        # a multi-node cluster also pass position_dir=<shared path>,
        # on the same storage as the checkpoint
        .with_kinesis(endpoint_url=endpoint_url, starting_position="TRIM_HORIZON")
        .build()
    )
    got: list = []

    def sink(batch_df, batch_id):
        batch = batch_df.collect()
        got.extend(batch)
        print(f"batch {batch_id}: {len(batch)} messages")

    q = sub.track(
        sub.subscribe(spark, stream)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="wk_aws_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    sub.close()
    print(f"consumed {len(got)} messages; shard spread:",
          sorted({r.metadata.get("shardID") for r in got}))
    spark.stop()


if __name__ == "__main__":
    main()
