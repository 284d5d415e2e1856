"""Streaming-layer tests, mirroring the reference's own test strategy
(SURVEY.md §5) Spark-first:

- codec round trip through a real stream, corrupt records skipped
  (reference subscriber.go:54-59)
- the no-loss/no-dup count invariant from subscriber_test.go:27-102,
  here as checkpointed restart + replay + uuid dedup = exactly-once
- publish chunking >500 and per-record failure retry — the two bugs
  the reference left open (publisher.go:65 TODO, publisher.go:84)
- per-key shard routing (marshaller.go:65-69)
"""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import Row, functions as F

from watermill_kinesis_spark import codec
from watermill_kinesis_spark.api import PublisherBuilder, SubscriberBuilder
from watermill_kinesis_spark.operators.streaming_batch import _subscribe
from watermill_kinesis_spark.schema import MESSAGE_SCHEMA
from watermill_kinesis_spark.streaming import (
    CollectingPublisher,
    DirectoryPublisher,
    publish_batch,
    read_topic,
)
from watermill_kinesis_spark.streaming.sink import PutRecordsEntry, put_chunked


def _messages(spark, n=100):
    rows = [
        Row(
            uuid=f"u-{i}",
            payload=f"payload-{i}".encode(),
            metadata={"partitionKey": f"k{i % 7}", "seq": str(i)},
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, MESSAGE_SCHEMA)


def _publish(msgs, topic, n_shards=4):
    """Publish messages to a topic directory through the engine's batch
    publisher and the directory transport's writer."""
    publish_batch(msgs, lambda: DirectoryPublisher(topic, n_shards))


def _paced_subscribe(spark, topic, max_files_per_trigger):
    """Decoded message stream of a topic directory, at most
    ``max_files_per_trigger`` put files per micro-batch."""
    reader = spark.readStream.option("maxFilesPerTrigger", max_files_per_trigger)
    return codec.unmarshal(read_topic(reader, topic), drop_corrupt=True)


def test_put_chunked_splits_above_500(spark):
    pub = CollectingPublisher()
    entries = [PutRecordsEntry(f"d{i}", f"k{i%3}") for i in range(1201)]
    n = put_chunked(pub, entries)
    assert n == 1201
    assert [len(c) for c in pub.calls] == [500, 500, 201]


def test_put_chunked_retries_partial_failures(spark):
    pub = CollectingPublisher(fail_first=5)
    entries = [PutRecordsEntry(f"d{i}", None) for i in range(10)]
    n = put_chunked(pub, entries)
    assert n == 10
    assert len(pub.records) == 10  # every failed record eventually landed
    assert len(pub.calls) == 2  # one retry call for the 5 failures


def test_put_chunked_raises_after_retry_budget(spark):
    class AlwaysFail:
        def put_records(self, entries):
            from watermill_kinesis_spark.streaming.sink import PutRecordsResult

            return PutRecordsResult(failed_indexes=list(range(len(entries))))

    with pytest.raises(RuntimeError, match="failed after"):
        put_chunked(AlwaysFail(), [PutRecordsEntry("d", None)], max_retries=2)


class _StubKinesisClient:
    """Mimics the boto3 kinesis client's put_records response shape:
    every call fails the first ``fail_first`` records once (throttle
    ErrorCode, the partial-failure mode the reference discards at
    publisher.go:84)."""

    def __init__(self, fail_first: int = 0):
        self.calls: list[dict] = []
        self.landed: list[dict] = []
        self._fail_budget = fail_first

    def put_records(self, StreamName, Records):
        self.calls.append({"StreamName": StreamName, "Records": Records})
        n_fail = min(self._fail_budget, len(Records))
        self._fail_budget -= n_fail
        out = []
        for i, r in enumerate(Records):
            if i < n_fail:
                out.append(
                    {
                        "ErrorCode": "ProvisionedThroughputExceededException",
                        "ErrorMessage": "Rate exceeded",
                    }
                )
            else:
                self.landed.append(r)
                out.append({"SequenceNumber": str(len(self.landed)), "ShardId": "shardId-0"})
        return {"FailedRecordCount": n_fail, "Records": out}


def test_kinesis_publisher_chunking_and_partial_failure_retry(spark):
    """The boto3-backed transport: ≤500-record PutRecords calls, utf-8
    Data, non-empty PartitionKey, and a retry of the entries whose
    response row carries an ErrorCode plus the later records of their
    keys."""
    from watermill_kinesis_spark.streaming.sink import KinesisPublisher

    client = _StubKinesisClient(fail_first=7)
    pub = KinesisPublisher("my-stream", client=client)
    entries = [PutRecordsEntry(f"d{i}".encode(), f"k{i % 3}" if i % 5 else None) for i in range(1203)]
    n = put_chunked(pub, entries)
    assert n == 1203
    # 3 chunks + 1 retry call: the 7 throttled records (keys k0, k1, k2
    # and two keyless) and the 395 later keyed records of the chunk
    assert [len(c["Records"]) for c in client.calls] == [500, 402, 500, 203]
    assert all(c["StreamName"] == "my-stream" for c in client.calls)
    # every record landed, bytes round-trip, keys non-empty; only the
    # resent keyed records landed twice
    datas = [r["Data"].decode("utf-8") for r in client.landed]
    assert set(datas) == {f"d{i}" for i in range(1203)}
    assert len(datas) == 1203 + 395
    assert all(r["PartitionKey"] for r in client.landed)
    # keyless entries route under the shared default key, once each
    assert sum(1 for r in client.landed if r["PartitionKey"] == "0") == len(
        [e for e in entries if e.partition_key is None]
    )
    # keyed records keep their order; keyless ones ("0") carry none
    got, want = _last_copy_order(client.landed), _send_order(entries)
    del got["0"], want["0"]
    assert got == want


def _send_order(entries) -> dict:
    """partition key → the key's records in send order."""
    out: dict = {}
    for e in entries:
        out.setdefault(e.partition_key or "0", []).append(e.data)
    return out


def _last_copy_order(landed) -> dict:
    """partition key → the key's records ordered by the position of
    each record's LAST landed copy — the order a consumer that keeps
    the latest copy of a resent record sees."""
    last = {}
    for pos, r in enumerate(landed):
        key = r["PartitionKey"] if isinstance(r, dict) else (r.partition_key or "0")
        data = r["Data"] if isinstance(r, dict) else r.data
        last[(key, data)] = pos
    out: dict = {}
    for (key, data), _ in sorted(last.items(), key=lambda kv: kv[1]):
        out.setdefault(key, []).append(data)
    return out


def test_put_chunked_keeps_key_order_under_partial_failure():
    """A failed record is resent with every later record of its key
    that already landed, so the key's records land (last copy) in send
    order; a record of another key is not resent."""
    pub = CollectingPublisher(fail_first=1)
    entries = [
        PutRecordsEntry("k1-first", "k1"),
        PutRecordsEntry("k2-only", "k2"),
        PutRecordsEntry("k1-second", "k1"),
    ]
    assert put_chunked(pub, entries, backoff_s=0) == 3
    assert _last_copy_order(pub.records) == _send_order(entries)
    assert [e.data for e in pub.calls[1]] == ["k1-first", "k1-second"]


def test_kinesis_publisher_keeps_key_order_under_partial_failure():
    """The same order over the boto3-shaped transport, whose response
    marks one record with an ErrorCode."""
    from watermill_kinesis_spark.streaming.sink import KinesisPublisher

    client = _StubKinesisClient(fail_first=1)
    entries = [
        PutRecordsEntry("k1-first", "k1"),
        PutRecordsEntry("k2-only", "k2"),
        PutRecordsEntry("k1-second", "k1"),
    ]
    n = put_chunked(KinesisPublisher("s", client=client), entries, backoff_s=0)
    assert n == 3
    assert _last_copy_order(client.landed) == _send_order(entries)
    assert [len(c["Records"]) for c in client.calls] == [3, 2]


def test_kinesis_publisher_exhausts_retry_budget(spark):
    from watermill_kinesis_spark.streaming.sink import KinesisPublisher

    client = _StubKinesisClient(fail_first=10**9)  # throttle forever
    pub = KinesisPublisher("s", client=client)
    with pytest.raises(RuntimeError, match="failed after"):
        put_chunked(pub, [PutRecordsEntry("d", "k")], max_retries=2)


def test_builder_wires_kinesis_transport(monkeypatch):
    """with_kinesis flips the transport: the executor-side factory
    builds its boto3 client through the transport's one client builder
    with the configured region and endpoint, and puts to the topic as
    the stream name (no directory endpoint required)."""
    import sys
    import types

    made: list[tuple] = []
    client = _StubKinesisClient()

    def fake_client(service, **kwargs):
        made.append((service, kwargs))
        return client

    # a stand-in boto3 module: the client builder imports boto3 lazily,
    # so the test needs no installed boto3
    monkeypatch.setitem(sys.modules, "boto3", types.SimpleNamespace(client=fake_client))
    pub = (
        PublisherBuilder()
        .with_kinesis(region_name="eu-west-1", endpoint_url="http://localhost:4566")
        .build()
    )
    put_chunked(pub._transport_factory("orders-stream")(), [PutRecordsEntry("d", "k")])
    assert made == [
        (
            "kinesis",
            {"region_name": "eu-west-1", "endpoint_url": "http://localhost:4566"},
        )
    ]
    assert [c["StreamName"] for c in client.calls] == ["orders-stream"]


def _put_files_per_key(topic_dir):
    """partition key → the put files of the topic holding its records."""
    files: dict[str, set] = {}
    for fname in os.listdir(topic_dir):
        with open(os.path.join(topic_dir, fname)) as f:
            for line in f:
                files.setdefault(json.loads(line)["partition_key"], set()).add(fname)
    return files


def _keyed_messages(spark):
    """120 messages over 3 partition keys, every key in each of 4 input
    partitions."""
    rows = [
        Row(
            uuid=f"u-{i}",
            payload=f"p-{i}".encode(),
            metadata={"partitionKey": f"key-{i % 3}"},
        )
        for i in range(120)
    ]
    return spark.createDataFrame(rows, MESSAGE_SCHEMA).repartition(4)


def test_publisher_puts_each_key_in_one_call(spark, tmp_path):
    """The builder's Publisher publishes through the sink's one put
    loop: each key's records go out in one put call, so they land in
    one put file (one PutRecords per batch and key, the reference's
    per-key order, marshaller.go:65-69)."""
    root = str(tmp_path / "endpoint")
    msgs = _keyed_messages(spark)
    assert msgs.rdd.getNumPartitions() == 4
    PublisherBuilder().with_endpoint(root).build().publish("topic", msgs)
    files = _put_files_per_key(os.path.join(root, "topic"))
    assert sorted(files) == ["key-0", "key-1", "key-2"]
    assert all(len(f) == 1 for f in files.values()), files


def test_publisher_stream_puts_each_key_in_one_call(spark, tmp_path):
    """The same rule on the streaming path: one micro-batch of 4 input
    partitions puts each key's records in one call."""
    src = str(tmp_path / "src")
    _keyed_messages(spark).write.parquet(src)
    root = str(tmp_path / "endpoint")
    q = (
        PublisherBuilder()
        .with_endpoint(root)
        .build()
        .publish_stream(
            "topic",
            spark.readStream.schema(MESSAGE_SCHEMA).parquet(src),
            str(tmp_path / "ckpt"),
            availableNow=True,
        )
    )
    q.awaitTermination()
    assert [p["numInputRows"] for p in q.recentProgress] == [120]
    files = _put_files_per_key(os.path.join(root, "topic"))
    assert sorted(files) == ["key-0", "key-1", "key-2"]
    assert all(len(f) == 1 for f in files.values()), files


def test_stream_roundtrip_with_corrupt_skip(spark, tmp_path):
    topic = str(tmp_path / "topic")
    msgs = _messages(spark, 60)
    _publish(msgs, topic, n_shards=3)
    # poison record injected into one shard file (subscriber.go:54-59)
    poison = json.dumps(
        {
            "data": "{not valid json",
            "partition_key": "k0",
            "sequence_number": "999",
            "shard_id": "shard-0",
            "approximate_arrival_timestamp": None,
        }
    )
    with open(os.path.join(topic, "shard-0-poison.json"), "w") as f:
        f.write(poison + "\n")

    decoded = _subscribe(spark, topic)
    q = (
        decoded.writeStream.format("memory")
        .queryName("rt_test")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table("rt_test").collect()
    assert len(out) == 60  # poison skipped, nothing else lost
    by_uuid = {r.uuid: r for r in out}
    assert by_uuid["u-3"].payload == b"payload-3"
    assert by_uuid["u-3"].metadata["seq"] == "3"
    # system keys injected on consume (marshaller.go:35-40, subscriber.go:60)
    assert by_uuid["u-3"].metadata["partitionKey"] == "k3"
    assert by_uuid["u-3"].metadata["shardID"].startswith("shard-")


def test_same_key_same_shard(spark, tmp_path):
    """Kinesis routing contract: one partition key never spans shards."""
    topic = str(tmp_path / "topic")
    _publish(_messages(spark, 200), topic, n_shards=4)
    shard_of: dict[str, set] = {}
    for fname in os.listdir(topic):
        with open(os.path.join(topic, fname)) as f:
            for line in f:
                rec = json.loads(line)
                shard_of.setdefault(rec["partition_key"], set()).add(rec["shard_id"])
    assert shard_of and all(len(s) == 1 for s in shard_of.values())


def test_directory_put_fails_halfway_leaves_no_visible_file(tmp_path, monkeypatch):
    """A put whose file write dies halfway must leave no ``*.json`` in
    the topic: a reader that lists the directory sees whole files or
    nothing, never a truncated last line."""
    from watermill_kinesis_spark.streaming import sink

    real_open = open

    class _TornFile:
        def __init__(self, *args, **kwargs):
            self._f = real_open(*args, **kwargs)

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self._f.close()

        def write(self, text):
            self._f.write(text[: len(text) // 2])
            self._f.flush()
            raise OSError("disk full")

    monkeypatch.setattr(sink, "open", _TornFile, raising=False)
    topic = tmp_path / "topic"
    with pytest.raises(OSError, match="disk full"):
        DirectoryPublisher(str(topic), n_shards=2).put_records(
            [PutRecordsEntry(f"d{i}".encode(), f"k{i}") for i in range(10)]
        )
    assert list(topic.glob("*.json")) == []
    assert os.listdir(topic) == []  # the partial temp file is gone too


def test_restart_replay_exactly_once(spark, tmp_path):
    """The subscriber_test.go invariant under failure: process batch 1,
    'crash', deliver batch 2 after restart from the SAME checkpoint —
    every message delivered at least once, and uuid-dedup yields
    exactly the written set."""
    topic = str(tmp_path / "topic")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    m1 = _messages(spark, 50)
    _publish(m1, topic, n_shards=2)

    def run_once():
        decoded = _subscribe(spark, topic)
        q = (
            decoded.selectExpr("uuid", "CAST(payload AS STRING) AS body")
            .writeStream.format("json")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()  # first run commits batch 0
    time.sleep(0.2)
    rows2 = [
        Row(uuid=f"u-{i}", payload=b"second", metadata={"partitionKey": "k"})
        for i in range(50, 80)
    ]
    _publish(spark.createDataFrame(rows2, MESSAGE_SCHEMA), topic, n_shards=2)
    run_once()  # restart from checkpoint: only new files processed

    delivered = spark.read.json(out_dir)
    # no loss: all 80 unique messages present exactly once in the sink
    assert delivered.count() == 80
    assert delivered.select("uuid").distinct().count() == 80


def test_envelope_matches_reference_wire_format(spark):
    """The on-disk record's data field is the exact MessageData JSON
    shape from marshaller.go:16-20."""
    msgs = _messages(spark, 1)
    wire = codec.marshal(msgs).collect()[0]
    env = json.loads(wire.data)
    assert set(env) == {"watermill_message_uuid", "data", "headers"}
    assert env["watermill_message_uuid"] == "u-0"
    import base64

    assert base64.b64decode(env["data"]) == b"payload-0"
    assert env["headers"]["partitionKey"] == "k0"
    assert wire.partition_key == "k0"


def test_publish_batch_through_directory_publisher(spark, tmp_path):
    """publish → directory 'service' → subscribe: the sink and source
    interoperate on the wire format."""
    topic = str(tmp_path / "svc_topic")
    msgs = _messages(spark, 30)
    publish_batch(msgs, lambda: DirectoryPublisher(topic, n_shards=2))
    back = codec.unmarshal(
        read_topic(spark.read, topic), drop_corrupt=True
    )
    rows = back.collect()
    assert len(rows) == 30
    assert {r.uuid for r in rows} == {f"u-{i}" for i in range(30)}


def test_directory_publisher_routing_is_deterministic(tmp_path):
    """Shard routing must not depend on PYTHONHASHSEED: the same
    partition key lands in the same shard file across processes/runs
    (per-key FIFO contract, reference marshaller.go:65-69). crc32 is
    process-independent; builtin hash() is not."""
    import zlib

    from watermill_kinesis_spark.streaming.sink import PutRecordsEntry

    topic = str(tmp_path / "det_topic")
    pub = DirectoryPublisher(topic, n_shards=4)
    keys = [f"key-{i}" for i in range(20)]
    pub.put_records([PutRecordsEntry(b'{"x":1}', k) for k in keys])
    routed = {}
    for fname in os.listdir(topic):
        shard = int(fname.split("-")[1])
        with open(os.path.join(topic, fname)) as f:
            for line in f:
                routed[json.loads(line)["partition_key"]] = shard
    for k in keys:
        assert routed[k] == zlib.crc32(k.encode()) % 4


def test_watermark_late_drop_semantics(spark, sf_dir):
    """Replayed ancient events must not re-open closed windows."""
    from watermill_kinesis_spark.operators.streaming_batch import watermark_late_drop

    row = watermark_late_drop(spark, sf_dir).collect()[0]
    assert row.n_late_input > 0, "testdata must produce a late batch"
    assert row.n_counted <= row.n_fresh_input


def test_stream_dedup_uuid_exactly_once(spark, sf_dir):
    from watermill_kinesis_spark.operators.streaming_batch import stream_dedup_uuid

    row = stream_dedup_uuid(spark, sf_dir).collect()[0]
    assert row.n_delivered == row.n_unique


def test_stateful_accounting_survives_restart(spark, sf_dir):
    """applyInPandasWithState totals must continue across a
    checkpointed restart (state restored, not reset)."""
    from watermill_kinesis_spark.operators.streaming_batch import (
        stream_stateful_accounting,
    )

    rows = stream_stateful_accounting(spark, sf_dir).collect()
    assert rows, "no accounting rows emitted"
    # keys touched in both runs emitted twice, with monotone totals ⇒
    # max(total) strictly greater than a single batch's contribution
    multi = [r for r in rows if r.n_emissions >= 2]
    assert multi, "no key spanned both runs — state continuity not exercised"
    for r in multi[:20]:
        assert r.total_messages >= r.n_emissions


def test_stream_static_join_enriches_all_rows(spark, sf_dir):
    """Every streamed message must find its customer dimension row
    (left join ⇒ no null segment when keys are customer-derived)."""
    from watermill_kinesis_spark.operators.streaming_batch import stream_static_join

    rows = stream_static_join(spark, sf_dir).collect()
    assert rows, "no enriched rows"
    segs = {r.c_mktsegment for r in rows}
    assert None not in segs, "stream row missed its dimension lookup"
    assert sum(r.n for r in rows) > 0


def test_stream_stream_join_within_interval(spark, sf_dir):
    """Attributed purchases exist and each user counts at most its
    click-purchase pairs inside the 1-hour window."""
    from watermill_kinesis_spark.operators.streaming_batch import stream_stream_join

    row = stream_stream_join(spark, sf_dir).collect()[0]
    assert row.n_attributed >= row.n_users >= 0


def test_stream_left_outer_join_conserves_clicks(spark, sf_dir):
    """Outer-join semantics: matched + abandoned accounts for every
    click exactly, and the abandoned count equals the batch-side
    anti-join recompute (clicks with NO same-user purchase within
    1 hour) — proving the watermark actually flushed the null-padded
    state instead of dropping it at end-of-stream."""
    from pyspark.sql import functions as F

    from watermill_kinesis_spark.operators.streaming_batch import (
        stream_left_outer_join,
    )
    from watermill_kinesis_spark.sources.tables import load_table

    row = stream_left_outer_join(spark, sf_dir).collect()[0]
    assert row.n_click_rows == row.n_matched + row.n_abandoned
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") < 4000)
    # timestamps ride the wire as second-precision strings: truncate
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.date_trunc("second", "ts").alias("cts")
    )
    buys = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("ub"), F.date_trunc("second", "ts").alias("bts")
    )
    join_cond = (
        (F.col("user_id") == F.col("ub"))
        & (F.col("bts") >= F.col("cts"))
        & (F.col("bts") <= F.col("cts") + F.expr("INTERVAL 1 HOUR"))
    )
    batch_abandoned = clicks.join(buys, join_cond, "left_anti")
    n_abandoned_total = batch_abandoned.count()
    # end-of-stream caveat: a click whose join window never ages past
    # the final watermark (min of the two sides' max ts, minus the 2 h
    # delay) stays buffered and is NOT emitted null-padded — so the
    # stream reports between [flushable, total] abandoned clicks
    max_c = clicks.agg(F.max("cts")).first()[0]
    max_b = buys.agg(F.max("bts")).first()[0]
    wm = min(max_c, max_b)
    n_flushable = batch_abandoned.where(
        F.col("cts") + F.expr("INTERVAL 3 HOUR") < F.lit(wm)
    ).count()
    assert n_flushable <= row.n_abandoned <= n_abandoned_total
    # ...and the tail holdback is the ONLY discrepancy allowed
    assert n_abandoned_total - row.n_abandoned <= (
        batch_abandoned.count() - n_flushable
    )


def test_rate_limited_drain_paces_micro_batches(spark, sf_dir, tmp_path):
    """Backpressure mapping (SURVEY.md §4.2): the reference bounds
    in-flight work structurally (unbuffered channel, 1 msg/shard;
    KCL MaxRecords per fetch) — here the same contract is
    maxFilesPerTrigger: a 4-file topic drained at 1 file/trigger must
    take ≥4 micro-batches, each bounded, with no loss overall."""
    from pyspark.sql import functions as F

    from watermill_kinesis_spark.operators.messages import messages_from_events

    topic = str(tmp_path / "topic")
    msgs = messages_from_events(spark, sf_dir).where(
        F.col("uuid").cast("bigint") < 800
    )
    n_in = msgs.count()
    _publish(msgs, topic, n_shards=4)

    decoded = _paced_subscribe(spark, topic, 1)
    q = (
        decoded.select("uuid")
        .writeStream.format("memory")
        .queryName("paced_drain")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(progress) >= 4  # one batch per file: bounded in-flight work
    assert max(p["numInputRows"] for p in progress) < n_in  # never all at once
    assert spark.table("paced_drain").count() == n_in  # and nothing lost


def test_reshard_mid_stream_no_loss(spark, sf_dir, tmp_path):
    """Shard split tolerance (reference §2-A #9: KCL TERMINATE/SHARD_END
    checkpointing when Kinesis reshards): the topic starts at 2 shards,
    is drained, then grows to 6 shards for a second batch consumed from
    the SAME checkpoint — the new shards must be picked up with no loss
    and no redelivery of the old shards' records."""
    from pyspark.sql import functions as F

    from watermill_kinesis_spark.operators.messages import messages_from_events

    topic = str(tmp_path / "topic")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    uid = F.col("uuid").cast("bigint")
    all_msgs = messages_from_events(spark, sf_dir)
    b0 = all_msgs.where(uid < 600)
    b1 = all_msgs.where((uid >= 600) & (uid < 1200))

    def drain():
        q = (
            _subscribe(spark, topic)
            .select("uuid", F.col("metadata").getItem("shardID").alias("shard_id"))
            .writeStream.format("json")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _publish(b0, topic, n_shards=2)
    drain()
    _publish(b1, topic, n_shards=6)
    drain()  # SAME checkpoint: only the new shards' files are unread

    out = spark.read.schema("uuid string, shard_id string").json(out_dir)
    n_in = b0.count() + b1.count()
    assert out.count() == n_in  # no loss across the split...
    assert out.select("uuid").distinct().count() == n_in  # ...and no replay
    # the second batch actually landed on the widened shard space
    assert out.select("shard_id").distinct().count() > 2


def test_idempotent_sink_survives_batch_replay(spark, sf_dir, tmp_path):
    """Crash-after-write-before-commit: delete the last epoch's commit
    marker and rerun — the replayed epoch must OVERWRITE its own output
    (same batch_id directory), so the sink holds exactly-once counts
    even though the engine's contract is at-least-once."""
    import os

    from pyspark.sql import functions as F

    from watermill_kinesis_spark.operators.streaming_batch import _event_messages
    from watermill_kinesis_spark.streaming.sink import idempotent_batch_sink

    topic = str(tmp_path / "topic")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    msgs = _event_messages(spark, sf_dir, F.col("event_id") < 400)
    _publish(msgs, topic)
    n_in = msgs.count()

    def run_once(ckpt_dir):
        q = (
            _subscribe(spark, topic)
            .writeStream.foreachBatch(idempotent_batch_sink(out))
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once(ckpt)
    first = spark.read.parquet(out).count()
    assert first == n_in

    # simulate the crash window: the write happened, the commit didn't.
    # The replica checkpoint stands in for the restarted process (the
    # original session pins the live commit log and rejects external
    # edits to it).
    import shutil

    ckpt2 = str(tmp_path / "ckpt_after_crash")
    shutil.copytree(ckpt, ckpt2)
    # drop the query-id metadata so the restarted run registers a fresh
    # id (the manager treats a same-id query on a live path as
    # concurrent); offsets/commits — the actual progress — are kept
    os.remove(os.path.join(ckpt2, "metadata"))
    crc = os.path.join(ckpt2, ".metadata.crc")
    if os.path.exists(crc):
        os.remove(crc)
    commits = sorted(
        c for c in os.listdir(os.path.join(ckpt2, "commits"))
        if not c.startswith(".")
    )
    os.remove(os.path.join(ckpt2, "commits", commits[-1]))
    ccrc = os.path.join(ckpt2, "commits", f".{commits[-1]}.crc")
    if os.path.exists(ccrc):
        os.remove(ccrc)
    run_once(ckpt2)  # replays the uncommitted epoch into the SAME batch dir

    replayed = spark.read.parquet(out)
    assert replayed.count() == n_in  # no duplicates
    assert replayed.select("uuid").distinct().count() == n_in


def test_poison_batch_lands_in_dlq_and_stream_progresses(spark, sf_dir, tmp_path):
    """Bounded-retry → dead-letter: a batch whose processing keeps
    failing replays from the checkpoint (nack) exactly max_attempts-1
    times, then is quarantined under the DLQ and the stream completes —
    unlike the reference, whose unbounded nack loop
    (subscriber/subscriber.go:92-95) would wedge the shard forever.
    Every input row ends up in exactly one of: main sink, DLQ."""
    from pyspark.sql import functions as F

    from watermill_kinesis_spark.operators.streaming_batch import _event_messages
    from watermill_kinesis_spark.streaming.sink import (
        dead_letter_sink,
        idempotent_batch_sink,
    )

    topic = str(tmp_path / "topic")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    dlq = str(tmp_path / "dlq")
    msgs = _event_messages(spark, sf_dir, F.col("event_id") < 200)
    _publish(msgs, topic)
    n_in = msgs.count()
    # the poison marker: whichever batch carries this uuid fails
    poison_uuid = msgs.orderBy("uuid").first().uuid

    inner = idempotent_batch_sink(out)

    def picky(batch_df, batch_id):
        if batch_df.where(F.col("uuid") == poison_uuid).count() > 0:
            raise RuntimeError("poison batch: downstream keeps failing")
        inner(batch_df, batch_id)

    sink = dead_letter_sink(picky, dlq, max_attempts=3)

    def run_once():
        q = (
            _paced_subscribe(spark, topic, 1)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
            return True
        except Exception:
            return False

    # attempt 1 and 2 fail (nack → replay-from-checkpoint on restart);
    # attempt 3 quarantines and the stream runs to completion
    attempts = 0
    while not run_once():
        attempts += 1
        assert attempts < 10, "stream never progressed past the poison batch"
    assert attempts == 2  # two failed runs before the quarantine run

    quarantined = spark.read.parquet(dlq)
    delivered = spark.read.parquet(out)
    assert quarantined.where(F.col("uuid") == poison_uuid).count() == 1
    assert delivered.where(F.col("uuid") == poison_uuid).count() == 0
    # conservation: every row in exactly one place
    assert quarantined.count() + delivered.count() == n_in
    assert quarantined.select("uuid").union(delivered.select("uuid")).distinct().count() == n_in


def test_chaos_reshard_corrupt_poison_restart_conserves_rows(spark, sf_dir, tmp_path):
    """One scenario, every failure mode the reference's transport can
    see, at once: corrupt records interleaved mid-stream (poison-record
    skip, subscriber.go:54-59), a reshard mid-stream (new shard files
    appear, §2-A #9), a poison BATCH that keeps failing downstream
    (bounded-retry → DLQ, vs the reference's unbounded nack), and
    restarts from the checkpoint after every failure. Invariant: every
    valid input message lands in exactly one of {main sink, DLQ},
    corrupt records in neither, nothing duplicated."""
    import json as jsonlib

    from pyspark.sql import functions as F

    from watermill_kinesis_spark.operators.streaming_batch import _event_messages
    from watermill_kinesis_spark.streaming.sink import (
        dead_letter_sink,
        idempotent_batch_sink,
    )

    topic = str(tmp_path / "topic")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    dlq = str(tmp_path / "dlq")

    # wave 1: two shards of valid messages
    msgs1 = _event_messages(spark, sf_dir, F.col("event_id") < 150)
    _publish(msgs1, topic, n_shards=2)
    wave1 = sorted(os.listdir(topic))
    # corrupt records appended into an existing shard file's stream
    with open(f"{topic}/shard-0-corrupt.json", "w") as f:
        f.write(
            jsonlib.dumps(
                {
                    "data": "%%%not-base64-envelope%%%",
                    "partition_key": "kx",
                    "sequence_number": "999",
                    "shard_id": "shard-0",
                    "approximate_arrival_timestamp": None,
                }
            )
            + "\n"
            + "{truncated json\n"
        )
    # wave 2 = the reshard: files for two NEW shards appear mid-stream
    msgs2 = _event_messages(
        spark, sf_dir, (F.col("event_id") >= 150) & (F.col("event_id") < 250)
    )
    _publish(msgs2, topic, n_shards=4)
    wave2 = sorted(set(os.listdir(topic)) - set(wave1) - {"shard-0-corrupt.json"})
    # the file source batches files in mtime order, and the files of one
    # put share a millisecond; strictly increasing mtimes in (wave, shard)
    # order fix each micro-batch's files, so the poison batch holds at
    # most one of the two new shards' files
    t0 = time.time() - 60
    for i, name in enumerate(wave1 + ["shard-0-corrupt.json"] + wave2):
        os.utime(f"{topic}/{name}", (t0 + i, t0 + i))

    n_valid = msgs1.count() + msgs2.count()
    poison_uuid = msgs2.orderBy("uuid").first().uuid

    inner = idempotent_batch_sink(out)

    def picky(batch_df, batch_id):
        if batch_df.where(F.col("uuid") == poison_uuid).count() > 0:
            raise RuntimeError("downstream rejects this batch")
        inner(batch_df, batch_id)

    sink = dead_letter_sink(picky, dlq, max_attempts=2)

    def run_once():
        q = (
            _paced_subscribe(spark, topic, 2)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
            return True
        except Exception:
            return False

    restarts = 0
    while not run_once():
        restarts += 1
        assert restarts < 10, "stream wedged"
    assert restarts == 1  # one nack replay, then quarantine

    delivered = spark.read.parquet(out)
    quarantined = spark.read.parquet(dlq)
    # conservation: all valid rows exactly once across sink+DLQ
    assert delivered.count() + quarantined.count() == n_valid
    all_uuids = delivered.select("uuid").union(quarantined.select("uuid"))
    assert all_uuids.distinct().count() == n_valid
    assert quarantined.where(F.col("uuid") == poison_uuid).count() == 1
    # corrupt records skipped, not delivered anywhere
    assert delivered.where(F.col("metadata")["partitionKey"] == "kx").count() == 0
    # the resharded wave's messages arrived (shard spread grew)
    shards = {
        r[0]
        for r in delivered.select(F.col("metadata")["shardID"]).distinct().collect()
    }
    assert len(shards) >= 3, f"reshard files not consumed: {shards}"


def test_streaming_progress_metrics_surface(spark, sf_dir, tmp_path):
    """Observability parity: the engine reports per-batch progress
    (rows, source offsets, durations) through the StreamingQuery
    progress API — the structured replacement for the reference's
    logged per-batch counts (its StdLogger, logger.go:54-177)."""
    from pyspark.sql import functions as F

    from watermill_kinesis_spark.operators.streaming_batch import _event_messages

    topic = str(tmp_path / "topic")
    msgs = _event_messages(spark, sf_dir, F.col("event_id") < 300)
    _publish(msgs, topic)
    n_in = msgs.count()

    q = (
        _subscribe(spark, topic)
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progresses = [p for p in q.recentProgress if p is not None]
    assert progresses, "no progress events recorded"
    assert sum(p["numInputRows"] for p in progresses) == n_in
    last = progresses[-1]
    assert last["sources"] and "durationMs" in last
    assert last["batchId"] >= 0


def test_state_ttl_expires_idle_keys(spark, sf_dir, tmp_path):
    """Bounded state for unbounded key spaces: keys idle past the TTL
    emit a final expired row with their intact totals, and the state is
    removed. Uses a live micro-batch query (processing-time timeouts
    fire while the query runs — an availableNow trigger never
    self-terminates once timeout batches are being scheduled)."""
    import time

    from pyspark.sql import functions as F

    from watermill_kinesis_spark.operators.streaming_batch import _event_messages
    from watermill_kinesis_spark.streaming.stateful import key_accounting_ttl

    topic = str(tmp_path / "topic")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    ttl_ms = 2000

    b0 = _event_messages(
        spark, sf_dir, (F.col("event_id") < 300) & (F.col("user_id") < 30)
    )
    _publish(b0, topic)

    acct = key_accounting_ttl(_subscribe(spark, topic), ttl_ms)
    q = (
        acct.writeStream.format("json")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        schema = "partition_key string, n_messages long, n_bytes long, expired boolean"
        expired_rows = []
        while time.time() < deadline:
            time.sleep(1.0)
            try:
                expired_rows = (
                    spark.read.schema(schema).json(out).where("expired").collect()
                )
            except Exception:
                continue
            if expired_rows:
                break
    finally:
        q.stop()
        q.awaitTermination()

    assert expired_rows, "no keys expired within the deadline"
    b0_counts = {
        r["k"]: r["n"]
        for r in b0.select(
            F.col("metadata").getItem("partitionKey").alias("k")
        )
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for r in expired_rows:
        assert r["partition_key"] in b0_counts
        # totals were intact right up to expiry
        assert r["n_messages"] == b0_counts[r["partition_key"]]


def test_sim_publisher_roundtrips_bytes_payloads(spark, tmp_path):
    """KPL-packed (bytes) entries must survive the directory transport:
    base64 on the JSON line, the exact bytes in the BINARY ``data``
    column — through the streaming subscribe and the builder's batch
    snapshot."""
    root = str(tmp_path / "endpoint")
    topic = os.path.join(root, "topic")
    payload = bytes(range(256)) * 2  # every byte value, not UTF-8 safe
    DirectoryPublisher(topic, n_shards=2).put_records(
        [
            PutRecordsEntry(payload, "pk-bytes"),
            PutRecordsEntry(b'{"plain":"json"}', "pk-str"),
        ]
    )

    def raw_by_key(wire):
        return wire.select("partition_key", F.col("data").alias("raw"))

    sub = (
        SubscriberBuilder()
        .with_endpoint(root)
        .with_unmarshaller(lambda wire: wire)
        .build()
    )
    q = (
        raw_by_key(sub.subscribe(spark, "topic"))
        .writeStream.format("memory")
        .queryName("bytes_payload_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    for rows in (
        spark.table("bytes_payload_stream").collect(),
        raw_by_key(sub.subscribe_batch(spark, "topic")).collect(),
    ):
        by_key = {r.partition_key: bytes(r.raw) for r in rows}
        assert by_key["pk-bytes"] == payload
        assert by_key["pk-str"] == b'{"plain":"json"}'


import pytest as _pytest


def _tws_available() -> bool:
    from watermill_kinesis_spark.operators.streaming_batch import has_tws_runtime

    return has_tws_runtime()


@_pytest.mark.skipif(
    not _tws_available(),
    reason="transformWithState needs google.protobuf (absent in container)",
)
def test_transform_with_state_restart_continuation(spark, sf_dir):
    """transformWithState per-key totals must equal the batch-computed
    ground truth after the two-run checkpointed restart — state
    CONTINUES, never resets (the engine analogue of the reference's
    checkpoint-resume, subscriber.go:65-75)."""
    from pyspark.sql import functions as F

    from watermill_kinesis_spark.operators.streaming_batch import (
        _event_messages,
        stream_transform_with_state,
    )

    got = {
        r.partition_key: (r.total_messages, r.total_bytes)
        for r in stream_transform_with_state(spark, sf_dir).collect()
    }
    truth = {
        r.partition_key: (r.n, r.b)
        for r in _event_messages(spark, sf_dir, F.col("event_id") < 1200)
        .select(
            F.col("metadata").getItem("partitionKey").alias("partition_key"),
            F.octet_length("payload").alias("len"),
        )
        .groupBy("partition_key")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("len").alias("b"))
        .collect()
    }
    assert got == truth


def test_update_mode_final_counts_match_batch(spark, sf_dir):
    from pyspark.sql import functions as F

    from watermill_kinesis_spark.operators.streaming_batch import (
        _event_messages,
        stream_update_mode_counts,
    )

    got = {
        r.partition_key: r.n_messages
        for r in stream_update_mode_counts(spark, sf_dir).collect()
    }
    truth = {
        r.partition_key: r.n
        for r in _event_messages(spark, sf_dir, F.col("event_id") < 2000)
        .select(F.col("metadata").getItem("partitionKey").alias("partition_key"))
        .groupBy("partition_key")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == truth


def test_dlq_markers_through_hadoop_fs_uri(spark, tmp_path):
    """The retry-budget markers must work through the Hadoop FileSystem
    API with a scheme-qualified URI (the remote-dlq_dir contract:
    s3a://, hdfs://, …) — exercised here with file:// so the code path
    is the FS abstraction, not driver-local os.* calls."""
    from pyspark.sql import Row

    from watermill_kinesis_spark.streaming.sink import dead_letter_sink

    dlq = f"file://{tmp_path}/dlq"
    attempts = {"n": 0}

    def failing(batch_df, batch_id):
        attempts["n"] += 1
        raise RuntimeError("poison")

    sink = dead_letter_sink(failing, dlq, max_attempts=3)
    batch = spark.createDataFrame([Row(x=1), Row(x=2)])

    import pytest

    for _ in range(2):  # first two failures re-raise (nack/replay)
        with pytest.raises(RuntimeError, match="poison"):
            sink(batch, 7)
    sink(batch, 7)  # third: budget spent -> quarantined, swallowed
    assert attempts["n"] == 3
    q = spark.read.parquet(f"{dlq}/batch_id=7")
    assert sorted(r.x for r in q.collect()) == [1, 2]
    # marker cleared after quarantine: a fresh epoch-7 gets full budget
    import os as oslib

    assert not oslib.path.exists(str(tmp_path / "dlq" / "_attempts" / "epoch-7"))


def test_complete_mode_table_is_replaced_not_accumulated(spark, sf_dir):
    from pyspark.sql import functions as F

    from watermill_kinesis_spark.operators.streaming_batch import (
        _event_messages,
        stream_complete_mode_topk,
    )

    got = {
        r.event_type: r.n for r in stream_complete_mode_topk(spark, sf_dir).collect()
    }
    truth = {
        r.event_type: r.n
        for r in _event_messages(spark, sf_dir, F.col("event_id") < 2000)
        .select(F.col("metadata").getItem("eventType").alias("event_type"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == truth  # replaced table == ground truth, no accumulation


def test_statestore_reader_matches_live_query(spark, sf_dir):
    """Spark 4 state data source: every state row read back from the
    checkpoint files equals the live query's output, keys are
    complete, and exactly one stateful operator is present."""
    from watermill_kinesis_spark.operators.streaming_batch import (
        statestore_reader_audit,
    )

    rows = statestore_reader_audit(spark, sf_dir).collect()
    assert rows, "no state rows read back"
    assert all(r.state_matches_live for r in rows)
    assert all(r.n_state_operators == 1 for r in rows)
    assert all(r.n_state is not None and r.n_live is not None for r in rows)
