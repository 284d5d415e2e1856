"""Kinesis-like streaming source (directory transport).

The reference consumes a Kinesis stream through a KCL worker
(reference subscriber.go:114-128, subscriber/subscriber.go:46-75); its
dev harness substitutes Localstack and hand-built envelope records
(reference example/docker-compose.yml, example/functions.sh:9-24).
This module is the same idea Spark-first: a **topic is a directory**
of JSON-lines files written by ``sink.DirectoryPublisher``, and Spark's
own JSON file source reads it — ``readStream`` over the directory
gives an unbounded DataFrame with the semantics the KCL provides:
partition-parallel reads, offset tracking in the checkpoint (replacing
DynamoDB), rate limiting via the reader's ``maxFilesPerTrigger`` (the
``MaxRecords`` analogue, reference example/cmd/subscribe/main.go:36).

:func:`read_topic` is the one reader of a topic directory; the
deployable transport is ``format("kinesis_aws")``, and
``api.Subscriber.subscribe`` is the one subscribe entry point over
both. Everything downstream (codec, semantics, sinks) is
source-agnostic because it only sees the WIRE_RECORD_SCHEMA columns.
A record's bytes come back untouched in the BINARY ``data`` column on
either transport; only the codecs read them as text.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from watermill_kinesis_spark.schema import WIRE_RECORD_SCHEMA


def read_topic(reader, topic_dir: str) -> DataFrame:
    """Wire records of a topic directory through ``reader``
    (``spark.read`` or ``spark.readStream``), in WIRE_RECORD_SCHEMA.

    A topic nobody has published to reads as 0 rows (the directory is
    created, as a publisher would). Each line carries its record bytes
    as base64 text, which Spark's JSON source decodes into the BINARY
    ``data`` column by itself."""
    os.makedirs(topic_dir, exist_ok=True)
    return reader.schema(WIRE_RECORD_SCHEMA).json(topic_dir)
