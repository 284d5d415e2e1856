"""Builder-API tests: the reference's user surface on Spark.

Covers §2-A #12/#13 (fluent builders — including NOT reproducing the
reference's unwired-marshaller bug, publisher.go:53-57) and #10
(graceful close, closer/closer.go:23-67)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from watermill_kinesis_spark.api import (
    PublisherBuilder,
    SubscriberBuilder,
    default_marshaller,
)
from watermill_kinesis_spark.operators.messages import messages_from_events


def _msgs(spark, sf_dir, n=500):
    m = messages_from_events(spark, sf_dir)
    return m.where(F.col("uuid").cast("bigint") < n)


def test_builder_wires_marshaller(tmp_path):
    calls = []

    def custom(messages):
        calls.append(1)
        return default_marshaller(messages)

    pub = (
        PublisherBuilder()
        .with_endpoint(str(tmp_path))
        .with_marshaller(custom)
        .build()
    )
    # the reference's Build() dropped the marshaller (publisher.go:53-57
    # vs :72) — ours must carry the exact configured callable
    assert pub.marshaller is custom


def test_publisher_requires_endpoint():
    with pytest.raises(ValueError):
        PublisherBuilder().build()
    with pytest.raises(ValueError):
        SubscriberBuilder().build()


def test_publish_subscribe_batch_roundtrip(spark, sf_dir, tmp_path):
    root = str(tmp_path / "endpoint")
    pub = PublisherBuilder().with_endpoint(root).with_shards(4).build()
    sub = SubscriberBuilder().with_endpoint(root).build()

    msgs = _msgs(spark, sf_dir)
    n_in = msgs.count()
    pub.publish("topic-a", msgs)

    back = sub.subscribe_batch(spark, "topic-a")
    assert back.count() == n_in
    # metadata survives the envelope: system shardID present, original
    # eventType header intact
    row = back.limit(1).collect()[0]
    assert "shardID" in row.metadata and "eventType" in row.metadata


def test_two_topics_one_builder_no_shared_state(spark, sf_dir, tmp_path):
    """The reference mutates one shared kclConfig per Subscribe
    (subscriber.go:117) — two topics from one builder must not
    interfere here."""
    root = str(tmp_path / "endpoint")
    pub = PublisherBuilder().with_endpoint(root).build()
    sub = SubscriberBuilder().with_endpoint(root).build()
    a = _msgs(spark, sf_dir, 300)
    b = _msgs(spark, sf_dir, 900).where(F.col("uuid").cast("bigint") >= 300)
    pub.publish("topic-a", a)
    pub.publish("topic-b", b)
    assert sub.subscribe_batch(spark, "topic-a").count() == a.count()
    assert sub.subscribe_batch(spark, "topic-b").count() == b.count()


def test_subscribe_batch_reads_the_kinesis_transport(spark):
    """subscribe_batch honors with_kinesis: a bounded snapshot of the
    stream through kinesis_aws, not a directory read that finds no
    topic and returns nothing."""
    sub = (
        SubscriberBuilder()
        .with_kinesis(
            client_factory="watermill_kinesis_spark.sources.kinesis_stub:demo_client"
        )
        .build()
    )
    back = sub.subscribe_batch(spark, "demo-stream").collect()
    # five envelopes decoded, the corrupt record skipped
    assert sorted(r.uuid for r in back) == [f"uuid-{i}" for i in range(5)]


@pytest.mark.parametrize("how", ["subscribe_batch", "subscribe"])
def test_empty_topic_reads_zero_rows(spark, tmp_path, how):
    """A topic nobody has published to reads as 0 rows, as a bounded
    snapshot and as a stream (not PATH_NOT_FOUND)."""
    sub = SubscriberBuilder().with_endpoint(str(tmp_path / "endpoint")).build()
    if how == "subscribe_batch":
        assert sub.subscribe_batch(spark, "nothing").count() == 0
        return
    q = sub.track(
        sub.subscribe(spark, "nothing")
        .writeStream.format("memory")
        .queryName("api_empty_topic_drain")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert spark.table("api_empty_topic_drain").count() == 0
    sub.close()


def test_subscribe_stream_and_close(spark, sf_dir, tmp_path):
    """Streaming subscribe drains the topic; close() stops the query
    gracefully (Closer semantics) and is idempotent."""
    root = str(tmp_path / "endpoint")
    pub = PublisherBuilder().with_endpoint(root).build()
    sub = SubscriberBuilder().with_endpoint(root).build()
    msgs = _msgs(spark, sf_dir)
    n_in = msgs.count()
    pub.publish("topic-s", msgs)

    stream = sub.subscribe(spark, "topic-s")
    q = sub.track(
        stream.select("uuid")
        .writeStream.format("memory")
        .queryName("api_stream_drain")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert spark.table("api_stream_drain").count() == n_in
    sub.close()
    assert not q.isActive
    sub.close()  # idempotent


def test_custom_unmarshaller_dead_letter_view(spark, sf_dir, tmp_path):
    """A user-supplied unmarshaller (the pluggable-codec hook,
    marshaller.go:22) can keep corrupt rows for a DLQ instead of
    skipping them."""
    from watermill_kinesis_spark import codec

    root = str(tmp_path / "endpoint")
    pub = PublisherBuilder().with_endpoint(root).build()
    sub = (
        SubscriberBuilder()
        .with_endpoint(root)
        .with_unmarshaller(lambda wire: codec.unmarshal(wire, drop_corrupt=False))
        .build()
    )
    msgs = _msgs(spark, sf_dir, 100)
    pub.publish("topic-d", msgs)
    # poison a record on the wire (reference subscriber.go:54-59 path)
    topic_dir = os.path.join(root, "topic-d")
    fname = sorted(os.listdir(topic_dir))[0]
    with open(os.path.join(topic_dir, fname), "a") as f:
        f.write('{"data": "{not-json", "partition_key": "k", '
                '"sequence_number": "x", "shard_id": "shard-0", '
                '"approximate_arrival_timestamp": null}\n')
    back = sub.subscribe_batch(spark, "topic-d")
    n_total = back.count()
    n_corrupt = back.where(F.col("uuid").isNull()).count()
    assert n_corrupt == 1  # kept, visible, isolated
    assert n_total == msgs.count() + 1


def test_process_with_dlq_bounds_the_nack_loop(spark, sf_dir, tmp_path):
    """Subscriber.process = subscribe → handler → bounded-retry → DLQ
    in one call: a handler that always rejects one batch's content
    wedges the reference forever (unbounded nack,
    subscriber/subscriber.go:92-95); here the batch quarantines after
    max_attempts and the stream completes. Handler output + DLQ
    together hold every message exactly once."""
    root = str(tmp_path / "endpoint")
    pub = PublisherBuilder().with_endpoint(root).build()
    sub = SubscriberBuilder().with_endpoint(root).build()
    msgs = _msgs(spark, sf_dir, 120)
    pub.publish("topic-p", msgs)
    n_in = msgs.count()
    poison_uuid = msgs.orderBy("uuid").first().uuid

    out_dir = str(tmp_path / "handled")
    seen_uuids = []

    def handler(batch_df, batch_id):
        import os as _os

        rows = batch_df.collect()
        if any(r.uuid == poison_uuid for r in rows):
            raise RuntimeError("handler rejects this content")
        _os.makedirs(out_dir, exist_ok=True)
        with open(f"{out_dir}/batch-{batch_id}", "w") as f:
            f.write("\n".join(r.uuid for r in rows))
        seen_uuids.extend(r.uuid for r in rows)

    attempts = 0
    while True:
        q = sub.process(
            spark,
            "topic-p",
            handler,
            checkpoint_dir=str(tmp_path / "ckpt"),
            dlq_dir=str(tmp_path / "dlq"),
            max_attempts=2,
            availableNow=True,
        )
        try:
            q.awaitTermination()
            break
        except Exception:
            attempts += 1
            assert attempts < 8, "stream never progressed"
    sub.close()
    assert attempts == 1  # one nack replay, then quarantine

    quarantined = spark.read.parquet(str(tmp_path / "dlq"))
    assert quarantined.where(F.col("uuid") == poison_uuid).count() == 1
    assert quarantined.count() + len(set(seen_uuids)) == n_in


def test_publish_subscribe_proto_codec_roundtrip(spark, sf_dir, tmp_path):
    """End-to-end pub/sub with the PROTOBUF wire format swapped in via
    the builders (the marshaller.go:24 TODO, shipped): payloads,
    uuids, and header metadata must survive the binary envelope
    through the directory transport, system keys enriched exactly as
    on the JSON path, and a poison record must be skipped, not fatal."""
    from watermill_kinesis_spark.protocodec import marshal_proto, unmarshal_proto
    from watermill_kinesis_spark.streaming.sink import (
        DirectoryPublisher,
        PutRecordsEntry,
    )

    root = str(tmp_path / "endpoint")
    pub = (
        PublisherBuilder()
        .with_endpoint(root)
        .with_shards(4)
        .with_marshaller(marshal_proto)
        .build()
    )
    sub = (
        SubscriberBuilder()
        .with_endpoint(root)
        .with_unmarshaller(lambda wire: unmarshal_proto(wire, drop_corrupt=True))
        .build()
    )
    msgs = _msgs(spark, sf_dir, 200)
    n_in = msgs.count()
    want = {
        r.uuid: (bytes(r.payload), dict(r.metadata)) for r in msgs.collect()
    }
    pub.publish("topic-proto", msgs)
    # inject a poison record the proto parser must skip
    DirectoryPublisher(root + "/topic-proto", n_shards=4).put_records(
        [PutRecordsEntry(b"\xff\xff\xff\xff\xff", "poison")]
    )

    back = sub.subscribe_batch(spark, "topic-proto")
    rows = back.collect()
    assert len(rows) == n_in  # poison skipped, nothing else lost
    for r in rows:
        payload, headers = want[r.uuid]
        assert bytes(r.payload) == payload
        # original headers intact...
        for k, v in headers.items():
            if k != "partitionKey":
                assert r.metadata[k] == v
        # ...and system enrichment matches the JSON path's contract
        assert "shardID" in r.metadata


def test_proto_codec_streaming_roundtrip(spark, sf_dir, tmp_path):
    """The protobuf wire format on the STREAMING path: publish_stream
    marshals each micro-batch with marshal_proto, the streaming
    subscribe decodes with unmarshal_proto — payload bytes and header
    metadata must survive end-to-end with exactly-once counts."""
    from pyspark.sql import functions as F

    from watermill_kinesis_spark.protocodec import marshal_proto, unmarshal_proto

    root = str(tmp_path / "endpoint")
    pub = (
        PublisherBuilder()
        .with_endpoint(root)
        .with_shards(2)
        .with_marshaller(marshal_proto)
        .build()
    )
    sub = (
        SubscriberBuilder()
        .with_endpoint(root)
        .with_unmarshaller(lambda wire: unmarshal_proto(wire, drop_corrupt=True))
        .build()
    )
    msgs = _msgs(spark, sf_dir, 150)
    n_in = msgs.count()
    src = str(tmp_path / "src")
    msgs.write.parquet(src)
    stream_in = spark.readStream.schema(msgs.schema).parquet(src)
    q = pub.publish_stream(
        "topic-ps", stream_in, str(tmp_path / "ckpt_pub"), availableNow=True
    )
    q.awaitTermination()

    back = sub.subscribe(spark, "topic-ps")
    q2 = sub.track(
        back.select("uuid", F.octet_length("payload").alias("n_payload"))
        .writeStream.format("memory")
        .queryName("proto_stream_drain")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sub"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    got = {
        r.uuid: r.n_payload for r in spark.table("proto_stream_drain").collect()
    }
    want = {r.uuid: len(bytes(r.payload)) for r in msgs.collect()}
    assert got == want and len(got) == n_in
    sub.close()
