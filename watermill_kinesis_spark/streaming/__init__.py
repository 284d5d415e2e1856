"""Structured-Streaming layer: the reference's pub/sub semantics
(SURVEY.md §2-A, §3) re-expressed on Spark.

Mapping of the reference's delivery contract (SURVEY.md §2-A #7/#8):
- ack            → micro-batch epoch commit (offset log + commit log)
- nack           → batch retry: a failing ``foreachBatch`` rethrows and
                   Spark re-runs the batch from the checkpoint
- checkpointing  → ``checkpointLocation`` (replaces KCL's DynamoDB lease
                   and sequence-number store)
- at-least-once  → crash between sink write and commit ⇒ batch replays;
                   ``dedup_by_uuid`` (semantics.py) upgrades the
                   pipeline to effective exactly-once
- per-shard FIFO → per-source-partition order within a micro-batch
"""

from watermill_kinesis_spark.streaming.sink import (
    CollectingPublisher,
    DirectoryPublisher,
    publish_batch,
)
from watermill_kinesis_spark.streaming.source import read_topic

__all__ = [
    "CollectingPublisher",
    "DirectoryPublisher",
    "publish_batch",
    "read_topic",
]
