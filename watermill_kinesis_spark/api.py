"""User-facing pub/sub API: the reference's builder surface, Spark-first.

The reference exposes fluent builders (reference publisher.go:17-57
``PublisherBuilder(opts).WithEndpoint(e).WithMarshaller(m).Build()``;
subscriber.go:90-128 ``SubscriberBuilder(cfg).WithLogger(l)
.WithUnmarshaller(u).Build()``) and a graceful ``Close()``
(closer/closer.go:23-67). This module gives a user of the reference the
same ergonomics on Spark, with the reference's two defects repaired:

- ``PublisherBuilder.Build()`` in the reference never copies the
  configured marshaller into the Publisher, so ``Publish`` calls a nil
  function and panics (publisher.go:53-57 vs publisher.go:72). Here the
  built Publisher provably carries its codec (tested).
- The reference's subscriber factory mutates the SHARED kclConfig per
  ``Subscribe`` (subscriber.go:117), racing two topics on one builder.
  Here every ``subscribe`` gets an immutable per-call options snapshot.

Semantics mapping (SURVEY.md §2-A #7/#8/#10): ack → micro-batch epoch
commit; nack → batch retry from checkpoint; ``Subscriber.close()`` →
``StreamingQuery.stop()`` for every query the subscriber started — the
``Closer``'s cancel-and-drain collapsed into Spark's query lifecycle.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession

from watermill_kinesis_spark import codec
from watermill_kinesis_spark.sources import kinesis_aws
from watermill_kinesis_spark.streaming.sink import (
    DirectoryPublisher,
    KinesisPublisher,
    put_wire,
)
from watermill_kinesis_spark.streaming.source import read_topic

#: a marshaller turns a message DataFrame (uuid, payload, metadata) into
#: wire records (data, partition_key) — the reference's pluggable
#: ``Marshaller`` func type (marshaller.go:52), DataFrame-shaped.
Marshaller = Callable[[DataFrame], DataFrame]
#: an unmarshaller turns wire records back into messages — the
#: reference's ``Unmarshaller`` (marshaller.go:22), DataFrame-shaped.
Unmarshaller = Callable[[DataFrame], DataFrame]


def default_marshaller(messages: DataFrame) -> DataFrame:
    """JSON+base64 envelope (reference JSONMarshaller, marshaller.go:52-71)."""
    return codec.marshal(messages)


def default_unmarshaller(wire: DataFrame) -> DataFrame:
    """JSON envelope decode with corrupt-record skip (reference
    JSONUnmarshaller + skip, marshaller.go:28-50, subscriber.go:54-59)."""
    return codec.unmarshal(wire, drop_corrupt=True)


@dataclass(frozen=True)
class _PublisherOptions:
    endpoint: str = ""
    n_shards: int = 4
    marshaller: Marshaller = default_marshaller
    #: "directory" (simulator; endpoint = topic-root dir) or "kinesis"
    #: (real AWS via boto3; topic = stream name)
    transport: str = "directory"
    kinesis_region: str | None = None
    kinesis_endpoint_url: str | None = None


class Publisher:
    """Batch/streaming publisher bound to a transport: a topic-root
    directory (the simulator — the Localstack-override analogue,
    reference publisher.go:28-34) or, after ``with_kinesis``, AWS
    Kinesis with topic = stream name. Both publish calls marshal with
    the builder's marshaller and put through ``sink.put_wire``, the
    message layer's one put loop: records are repartitioned by
    partition key, so each key's records go out in one partition's
    ordered put calls (reference publisher.go:64-86)."""

    def __init__(self, opts: _PublisherOptions):
        if opts.transport == "directory" and not opts.endpoint:
            raise ValueError("Publisher requires an endpoint (topic root dir)")
        if opts.transport not in ("directory", "kinesis"):
            raise ValueError(f"unknown transport: {opts.transport!r}")
        self._opts = opts

    @property
    def marshaller(self) -> Marshaller:
        # exposed so tests can prove Build() wired the codec — the
        # reference's Build() forgot to (publisher.go:53-57)
        return self._opts.marshaller

    def _topic_dir(self, topic: str) -> str:
        return os.path.join(self._opts.endpoint, topic)

    def _transport_factory(self, topic: str) -> Callable[[], object]:
        """Picklable zero-arg service-client factory for this topic —
        called per partition ON THE EXECUTOR (clients never cross the
        driver boundary)."""
        opts = self._opts
        if opts.transport == "kinesis":
            # topic = Kinesis stream name (reference publisher.go:81);
            # the client comes from the reader's and writer's builder
            options = {
                "regionname": opts.kinesis_region,
                "endpointurl": opts.kinesis_endpoint_url,
            }
            return lambda: KinesisPublisher(
                topic, client=kinesis_aws._make_client(options)
            )
        topic_dir, n_shards = self._topic_dir(topic), opts.n_shards
        return lambda: DirectoryPublisher(topic_dir, n_shards)

    def publish(self, topic: str, messages: DataFrame) -> None:
        """Marshal + chunked, partition-parallel put (reference
        Publish, publisher.go:64-86 — with >500 chunking and
        per-record retry the reference left TODO)."""
        put_wire(self._opts.marshaller(messages), self._transport_factory(topic))

    def publish_stream(
        self, topic: str, messages: DataFrame, checkpoint_dir: str, **trigger
    ):
        """Streaming publish through ``foreachBatch``: each micro-batch
        is published like ``publish``; epoch commit is the per-batch
        checkpoint (reference subscriber.go:65-70), and a raised error
        replays the batch from the checkpoint (at-least-once)."""
        marshaller = self._opts.marshaller
        factory = self._transport_factory(topic)

        def sink(batch_df: DataFrame, epoch_id: int) -> None:
            put_wire(marshaller(batch_df), factory)

        writer = messages.writeStream.foreachBatch(sink).option(
            "checkpointLocation", checkpoint_dir
        )
        if trigger:
            writer = writer.trigger(**trigger)
        return writer.start()


class PublisherBuilder:
    """Fluent publisher config (reference publisher.go:17-57)."""

    def __init__(self) -> None:
        self._opts = _PublisherOptions()

    def with_endpoint(self, endpoint: str) -> "PublisherBuilder":
        self._opts = replace(self._opts, endpoint=endpoint)
        return self

    def with_shards(self, n_shards: int) -> "PublisherBuilder":
        self._opts = replace(self._opts, n_shards=n_shards)
        return self

    def with_marshaller(self, marshaller: Marshaller) -> "PublisherBuilder":
        self._opts = replace(self._opts, marshaller=marshaller)
        return self

    def with_kinesis(
        self,
        region_name: str | None = None,
        endpoint_url: str | None = None,
    ) -> "PublisherBuilder":
        """Publish to real AWS Kinesis (topic = stream name) through
        boto3 ``PutRecords`` with per-record partial-failure retry —
        the deployable transport the simulator stands in for.
        ``endpoint_url`` overrides for Localstack, the reference's
        WithEndpoint (publisher.go:28-34)."""
        self._opts = replace(
            self._opts,
            transport="kinesis",
            kinesis_region=region_name,
            kinesis_endpoint_url=endpoint_url,
        )
        return self

    def build(self) -> Publisher:
        # the marshaller IS copied into the Publisher — the reference's
        # Build() bug (publisher.go:53-57) is deliberately not ported
        return Publisher(self._opts)


@dataclass(frozen=True)
class _SubscriberOptions:
    endpoint: str = ""
    unmarshaller: Unmarshaller = default_unmarshaller
    #: "directory" (simulator) or "kinesis" (real AWS GetRecords
    #: source; topic = stream name)
    transport: str = "directory"
    kinesis_region: str | None = None
    kinesis_endpoint_url: str | None = None
    #: TRIM_HORIZON or LATEST (kinesis transport)
    starting_position: str = "TRIM_HORIZON"
    #: override the boto3 client for tests: "module:callable"
    client_factory: str | None = None
    #: shared dir for the reader's position fences (must be visible to
    #: driver AND executors on a multi-node cluster)
    position_dir: str | None = None


@dataclass
class Subscriber:
    """Topic consumer. Each ``subscribe`` snapshots its options (no
    shared mutable config — the reference's builder mutates one
    kclConfig per call, subscriber.go:117). ``close()`` stops every
    streaming query this subscriber started (the ``Closer``,
    closer/closer.go:23-67)."""

    _opts: _SubscriberOptions
    _queries: list = field(default_factory=list)

    def _topic_dir(self, topic: str) -> str:
        return os.path.join(self._opts.endpoint, topic)

    def _wire(self, spark: SparkSession, reader, topic: str) -> DataFrame:
        """Load the topic's wire records from this subscriber's
        transport through ``reader`` (``spark.read`` or
        ``spark.readStream``)."""
        opts = self._opts
        if opts.transport == "kinesis":
            kinesis_aws.register(spark)
            reader = (
                reader.format(kinesis_aws.FORMAT_NAME)
                .option("streamName", topic)
                .option("startingPosition", opts.starting_position)
            )
            for key, value in (
                ("regionName", opts.kinesis_region),
                ("endpointUrl", opts.kinesis_endpoint_url),
                ("clientfactory", opts.client_factory),
                ("positionDir", opts.position_dir),
            ):
                if value:
                    reader = reader.option(key, value)
            return reader.load()
        return read_topic(reader, self._topic_dir(topic))

    def subscribe(self, spark: SparkSession, topic: str) -> DataFrame:
        """Unbounded message stream for the topic (reference Subscribe,
        subscriber/subscriber.go:46-75): wire records from the
        subscriber's transport — the topic directory
        (``streaming.source.read_topic``), or the ``kinesis_aws``
        GetRecords source after ``with_kinesis`` — unmarshalled to
        messages. Start it with
        ``writeStream`` (track with ``track`` to let ``close`` manage
        the query)."""
        return self._opts.unmarshaller(self._wire(spark, spark.readStream, topic))

    def subscribe_batch(self, spark: SparkSession, topic: str) -> DataFrame:
        """Bounded snapshot of the topic, from the same transport and
        reader as ``subscribe``."""
        return self._opts.unmarshaller(self._wire(spark, spark.read, topic))

    def process(
        self,
        spark: SparkSession,
        topic: str,
        handler: Callable[[DataFrame, int], None],
        checkpoint_dir: str,
        dlq_dir: str | None = None,
        max_attempts: int = 3,
        **trigger,
    ):
        """Consume-with-handler, the reference's subscribe loop as one
        call: subscribe → ``foreachBatch(handler)`` → start, with the
        engine's delivery semantics applied — a raised handler error
        leaves the epoch uncommitted so the restarted query replays it
        (nack, reference subscriber/subscriber.go:92-95), and when
        ``dlq_dir`` is set the replay budget is BOUNDED: after
        ``max_attempts`` failures the batch quarantines to the DLQ and
        the stream progresses, instead of the reference's unbounded
        redelivery wedging the shard. The query is tracked for
        ``close()``."""
        from watermill_kinesis_spark.streaming.sink import dead_letter_sink

        sink = handler
        if dlq_dir is not None:
            sink = dead_letter_sink(handler, dlq_dir, max_attempts=max_attempts)
        writer = (
            self.subscribe(spark, topic)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint_dir)
        )
        if trigger:
            writer = writer.trigger(**trigger)
        return self.track(writer.start())

    def track(self, query) -> object:
        """Register a started StreamingQuery for ``close()``."""
        self._queries.append(query)
        return query

    def close(self) -> None:
        """Graceful shutdown: stop tracked queries and wait for
        termination — in-flight micro-batches either commit (ack) or
        replay after restart from the checkpoint (the reference's
        shutdown-mid-batch skip-checkpoint path, subscriber.go:61-63).
        A query that already terminated WITH an error (its exception
        surfaced through the caller's own ``awaitTermination``) is
        simply dropped — close() is resource cleanup, not a second
        error channel; re-raising here would wedge the teardown of the
        remaining queries (the failure mode the reference's Closer
        drain avoids too, closer/closer.go:63-67). The exception is
        imported from ``pyspark.errors`` (the BASE class): under Spark
        Connect the raised type is the connect variant, which the
        captured-module subclass would not match — and a non-matching
        except here re-raises and wedges teardown of the remaining
        queries, the exact failure this drain exists to avoid."""
        from pyspark.errors import StreamingQueryException

        while self._queries:
            q = self._queries.pop()
            try:
                q.stop()
                q.awaitTermination()
            except StreamingQueryException:
                continue  # already dead-with-error; nothing to drain


class SubscriberBuilder:
    """Fluent subscriber config (reference subscriber.go:90-128)."""

    def __init__(self) -> None:
        self._opts = _SubscriberOptions()

    def with_endpoint(self, endpoint: str) -> "SubscriberBuilder":
        self._opts = replace(self._opts, endpoint=endpoint)
        return self

    def with_unmarshaller(self, unmarshaller: Unmarshaller) -> "SubscriberBuilder":
        self._opts = replace(self._opts, unmarshaller=unmarshaller)
        return self

    def with_kinesis(
        self,
        region_name: str | None = None,
        endpoint_url: str | None = None,
        starting_position: str = "TRIM_HORIZON",
        client_factory: str | None = None,
        position_dir: str | None = None,
    ) -> "SubscriberBuilder":
        """Consume real AWS Kinesis (topic = stream name) through the
        ``kinesis_aws`` GetRecords source: per-shard sequence-number
        offsets in the Spark checkpoint replace the reference's
        KCL-in-DynamoDB checkpoints (subscriber.go:114-128, 65-75).
        ``endpoint_url`` overrides for Localstack; ``client_factory``
        ("module:callable") injects a stub client for tests.
        GetRecords runs on executors, one partition per shard; on a
        multi-node cluster ``position_dir`` must be storage that driver
        and executors share, like the query's checkpoint location."""
        self._opts = replace(
            self._opts,
            transport="kinesis",
            kinesis_region=region_name,
            kinesis_endpoint_url=endpoint_url,
            starting_position=starting_position,
            client_factory=client_factory,
            position_dir=position_dir,
        )
        return self

    def build(self) -> Subscriber:
        if self._opts.transport == "directory" and not self._opts.endpoint:
            raise ValueError("Subscriber requires an endpoint (topic root dir)")
        return Subscriber(self._opts)


__all__ = [
    "Marshaller",
    "Publisher",
    "PublisherBuilder",
    "Subscriber",
    "SubscriberBuilder",
    "Unmarshaller",
    "default_marshaller",
    "default_unmarshaller",
]
