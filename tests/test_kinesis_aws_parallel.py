"""kinesis_aws streaming reader: one InputPartition per shard, GetRecords on executors, executor→driver
position fences — the 100 TB read path. Exercised against the
file-backed stub so executor python workers see the same stream state
as the driver (the reference's own fake-the-producer strategy,
subscriber/subscriber_test.go:14-25)."""

from __future__ import annotations

import os

from watermill_kinesis_spark.sources.kinesis_aws import (
    SHARD_END,
    KinesisAwsParallelStreamReader,
)
from watermill_kinesis_spark.sources.kinesis_stub import FileStubKinesisClient


def _mk(tmp_path, **opts):
    stub_dir = str(tmp_path / "stub")
    options = {
        "streamname": "s",
        "clientfactory": "watermill_kinesis_spark.sources.kinesis_stub:file_stub_client",
        "stubdir": stub_dir,
        "positiondir": str(tmp_path / "pos"),
    }
    options.update({k.lower(): v for k, v in opts.items()})
    client = FileStubKinesisClient(stub_dir)
    return client, KinesisAwsParallelStreamReader(options)


def _fill(client, n=6):
    for i in range(n):
        client.put(f"shardId-{i % 2:012d}", f"d{i}", partition_key=f"k{i % 2}")


def _tuples(batches):
    """Flatten the reader's Arrow-batch emission back to wire tuples —
    the r8 parallel reader yields pyarrow.RecordBatch (the worker
    passes them through verbatim), so tests unpack them the way the
    JVM consumer would."""
    rows = []
    for b in batches:
        cols = [c.to_pylist() for c in b.columns]
        rows.extend(zip(*cols) if cols else [])
    return rows


def _run_batch(reader, start):
    """Drive one planning+execution cycle the way the engine does."""
    end = reader.latestOffset()
    parts = reader.partitions(start, end)
    rows = []
    for p in parts:
        rows.extend(_tuples(reader.read(p)))
    return rows, end, parts


def test_one_partition_per_shard_and_rows_flow(tmp_path):
    client, r = _mk(tmp_path)
    _fill(client)
    start = r.initialOffset()
    assert start["epoch"] == 0
    parts = r.partitions(start, r.latestOffset())
    assert sorted(p.shard_id for p in parts) == [
        "shardId-000000000000",
        "shardId-000000000001",
    ]
    rows = []
    for p in parts:
        part_rows = _tuples(r.read(p))
        # per-shard FIFO: a partition holds only its shard's records,
        # in ascending sequence-number order
        assert part_rows and all(row[3] == p.shard_id for row in part_rows)
        seqs = [int(row[2]) for row in part_rows]
        assert seqs == sorted(seqs)
        rows.extend(part_rows)
    assert sorted(row[0] for row in rows) == [f"d{i}".encode() for i in range(6)]


def test_fence_makes_task_retry_deterministic(tmp_path):
    client, r = _mk(tmp_path)
    _fill(client, n=4)
    start = r.initialOffset()
    end = r.latestOffset()
    parts = r.partitions(start, end)
    first = {p.shard_id: [t[0] for t in _tuples(r.read(p))] for p in parts}
    # records arriving between attempt 1 and the retry must NOT appear
    client.put("shardId-000000000000", "late-arrival")
    retry = {p.shard_id: [t[0] for t in _tuples(r.read(p))] for p in parts}
    assert retry == first
    # fences exist on disk, one per (run, epoch, shard)
    fences = os.listdir(r._fence_dir)
    assert len(fences) == 2
    assert all(f.split(".")[:2] == [r._run, "1"] for f in fences)


def test_positions_advance_between_batches_no_duplicates(tmp_path):
    client, r = _mk(tmp_path)
    _fill(client, n=4)
    off0 = r.initialOffset()
    rows1, off1, _ = _run_batch(r, off0)
    assert len(rows1) == 4
    r.commit(off1)
    # nothing new: next batch reads zero rows (fences advanced positions)
    rows2, off2, _ = _run_batch(r, off1)
    assert rows2 == []
    r.commit(off2)
    client.put("shardId-000000000001", "fresh")
    rows3, off3, _ = _run_batch(r, off2)
    assert [t[0] for t in rows3] == [b"fresh"]


def test_restart_replays_uncommitted_window_from_offset_log(tmp_path):
    """Crash after commit of batch 1 but with the fence dir lost: a
    NEW reader (fresh fence dir) resuming from the logged offset must
    re-read nothing already committed and pick up from the logged
    positions — the offset log, not the fences, is authoritative."""
    client, r1 = _mk(tmp_path)
    _fill(client, n=4)
    off0 = r1.initialOffset()
    rows1, off1, _ = _run_batch(r1, off0)
    assert len(rows1) == 4

    # simulate restart: brand-new reader instance, same options (its
    # fence dir is unique ⇒ effectively lost fences)
    _, r2 = _mk(tmp_path)
    client.put("shardId-000000000000", "post-restart")
    end2 = r2.latestOffset()
    parts = r2.partitions(off1, end2)  # start = restored offset log entry
    rows = [t for p in parts for t in _tuples(r2.read(p))]
    assert [t[0] for t in rows] == [b"post-restart"]


def test_latest_pins_timestamp_no_backlog_replay(tmp_path):
    client, r = _mk(tmp_path, startingPosition="LATEST")
    _fill(client, n=50)
    start = r.initialOffset()
    # the pin is an AT_TS sentinel, not a scanned mid-shard sequence
    assert all(str(v).startswith("AT_TS:") for v in start["shards"].values())
    # and resolving it costs ZERO get_records calls on the driver
    assert "get_records" not in {c.split(":")[0] for c in client.calls}
    rows1, off1, _ = _run_batch(r, start)
    assert rows1 == []  # backlog skipped
    client.put("shardId-000000000000", "fresh")
    rows2, _, _ = _run_batch(r, off1)
    assert [t[0] for t in rows2] == [b"fresh"]


def test_reshard_tombstone_and_pickup(tmp_path):
    client, r = _mk(tmp_path)
    _fill(client, n=4)
    off0 = r.initialOffset()
    rows1, off1, _ = _run_batch(r, off0)
    client.add_shard("shardId-000000000002")
    client.put("shardId-000000000002", "from-new-shard")
    client.put("shardId-000000000000", "final-on-old")
    client.close_shard("shardId-000000000000")
    rows2, off2, _ = _run_batch(r, off1)
    assert sorted(t[0] for t in rows2) == [b"final-on-old", b"from-new-shard"]
    rows3, off3, parts3 = _run_batch(r, off2)
    assert rows3 == []
    # closed shard drained → tombstoned out of future partitions
    assert off3["shards"]["shardId-000000000000"] == SHARD_END
    assert "shardId-000000000000" not in {p.shard_id for p in parts3}


def test_end_to_end_readstream_parallel(spark, tmp_path):
    """Full engine path: spark.readStream.format('kinesis_aws') —
    GetRecords runs in executor workers (proven by the file-backed
    stub being the only shared channel), checkpointed, codec-decoded,
    corrupt record skipped."""
    import base64
    import json as jsonlib

    from watermill_kinesis_spark import codec
    from watermill_kinesis_spark.sources import kinesis_aws

    stub_dir = str(tmp_path / "stub")
    client = FileStubKinesisClient(stub_dir)
    for i in range(5):
        env = jsonlib.dumps(
            {
                "watermill_message_uuid": f"uuid-{i}",
                "data": base64.b64encode(f"payload-{i}".encode()).decode(),
                "headers": {"partitionKey": f"k{i % 2}"},
            }
        )
        client.put(f"shardId-{i % 2:012d}", env, partition_key=f"k{i % 2}")
    client.put("shardId-000000000000", b"{not json", partition_key="k0")

    kinesis_aws.register(spark)
    wire = (
        spark.readStream.format("kinesis_aws")
        .option("streamName", "demo")
        .option(
            "clientfactory",
            "watermill_kinesis_spark.sources.kinesis_stub:file_stub_client",
        )
        .option("stubdir", stub_dir)
        .option("positiondir", str(tmp_path / "pos"))
        .load()
    )
    msgs = codec.unmarshal(wire, drop_corrupt=True)
    out: list = []

    def sink(batch_df, batch_id):
        out.extend(batch_df.collect())

    q = (
        msgs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(r.uuid for r in out) == [f"uuid-{i}" for i in range(5)]
    assert all(r.metadata["shardID"].startswith("shardId-") for r in out)


def test_batch_read_drains_stream(spark, tmp_path):
    """spark.read.format('kinesis_aws') — the backfill quadrant: one
    partition per shard, each drained to its tip on executors."""
    from watermill_kinesis_spark.sources import kinesis_aws

    stub_dir = str(tmp_path / "stub")
    client = FileStubKinesisClient(stub_dir)
    for i in range(10):
        client.put(f"shardId-{i % 3:012d}", f"d{i}", partition_key=f"k{i}")
    kinesis_aws.register(spark)
    df = (
        spark.read.format("kinesis_aws")
        .option("streamName", "s")
        .option(
            "clientfactory",
            "watermill_kinesis_spark.sources.kinesis_stub:file_stub_client",
        )
        .option("stubdir", stub_dir)
        .load()
    )
    rows = df.collect()
    assert sorted(r.data for r in rows) == [f"d{i}".encode() for i in range(10)]
    assert {r.shard_id for r in rows} == {
        f"shardId-{i:012d}" for i in range(3)
    }
    # executor-side plan: one task per shard
    assert df.rdd.getNumPartitions() == 3


def test_batch_read_shard_filter_prunes_partitions(spark, tmp_path):
    """A shard_id predicate must prune whole shard partitions at the
    source (no GetRecords for pruned shards)."""
    from watermill_kinesis_spark.sources import kinesis_aws

    stub_dir = str(tmp_path / "stub")
    client = FileStubKinesisClient(stub_dir)
    for i in range(9):
        client.put(f"shardId-{i % 3:012d}", f"d{i}")
    kinesis_aws.register(spark)
    df = (
        spark.read.format("kinesis_aws")
        .option("streamName", "s")
        .option(
            "clientfactory",
            "watermill_kinesis_spark.sources.kinesis_stub:file_stub_client",
        )
        .option("stubdir", stub_dir)
        .load()
        .where("shard_id = 'shardId-000000000001'")
    )
    rows = df.collect()
    assert sorted(r.data for r in rows) == [b"d1", b"d4", b"d7"]
    assert df.rdd.getNumPartitions() == 1  # two shards pruned at plan time


def test_live_multi_trigger_no_loss_no_dup(spark, tmp_path):
    """Records published BETWEEN micro-batches must each arrive exactly
    once through the live (processingTime) engine loop — the
    latestOffset/fence/commit cycle under real trigger cadence, not
    just availableNow."""
    import time

    from watermill_kinesis_spark.sources import kinesis_aws

    stub_dir = str(tmp_path / "stub")
    client = FileStubKinesisClient(stub_dir)
    for i in range(4):
        client.put(f"shardId-{i % 2:012d}", f"pre-{i}", partition_key=f"k{i}")

    kinesis_aws.register(spark)
    name = "live_mt"
    q = (
        spark.readStream.format("kinesis_aws")
        .option("streamName", "s")
        .option(
            "clientfactory",
            "watermill_kinesis_spark.sources.kinesis_stub:file_stub_client",
        )
        .option("stubdir", stub_dir)
        .option("positiondir", str(tmp_path / "pos"))
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 60
        def wait_for(n):
            while time.time() < deadline:
                if spark.table(name).count() >= n:
                    return True
                time.sleep(0.5)
            return False

        assert wait_for(4), "initial backlog not delivered"
        client.put("shardId-000000000000", "mid-0")
        client.put("shardId-000000000001", "mid-1")
        assert wait_for(6), "mid-stream records not delivered"
        client.put("shardId-000000000001", "late-0")
        assert wait_for(7), "late record not delivered"
    finally:
        q.stop()
    rows = [r.data for r in spark.table(name).collect()]
    assert sorted(rows) == sorted(
        [f"pre-{i}".encode() for i in range(4)] + [b"mid-0", b"mid-1", b"late-0"]
    ), "loss or duplication across triggers"


def test_stop_preserves_explicit_positiondir_fences(tmp_path):
    """Graceful stop must NOT delete an explicit positionDir's fences —
    they are the restart-recovery channel for the final batch's
    attained positions (the default per-run dir IS reaped)."""
    client, r = _mk(tmp_path)  # _mk passes an explicit positiondir
    _fill(client, n=2)
    _run_batch(r, r.initialOffset())
    assert os.listdir(r._fence_dir)
    r.stop()
    assert os.path.isdir(r._fence_dir) and os.listdir(r._fence_dir)

    # default dir (no positiondir option): reaped on stop
    stub_dir = str(tmp_path / "stub")
    import watermill_kinesis_spark.sources.kinesis_aws as ka

    r2 = ka.KinesisAwsParallelStreamReader(
        {
            "streamname": "s",
            "clientfactory": "watermill_kinesis_spark.sources.kinesis_stub:file_stub_client",
            "stubdir": stub_dir,
        }
    )
    _run_batch(r2, r2.initialOffset())
    assert os.listdir(r2._fence_dir)
    r2.stop()
    assert not os.path.isdir(r2._fence_dir)


def test_reader_mode_switch_offsets_compatible(tmp_path):
    """An offset without an "epoch" key — the shape a checkpoint
    written by the former driver-side reader mode holds — resumes
    without loss or re-read."""
    client, rp = _mk(tmp_path)
    _fill(client, n=4)
    # the backlog was consumed and committed as {shards, init} only
    logged = {
        "shards": {
            sid: client._shards[sid][-1]["seq"]
            for sid in ("shardId-000000000000", "shardId-000000000001")
        },
        "init": None,
    }
    client.put("shardId-000000000000", "after-switch")
    end = rp.latestOffset()
    parts = rp.partitions(logged, end)  # no "epoch" key in start
    got = [t[0] for p in parts for t in _tuples(rp.read(p))]
    assert got == [b"after-switch"]


def test_vanished_shard_tombstones_other_errors_raise(tmp_path):
    """A shard aged past retention (ResourceNotFoundException on
    iterator acquisition) tombstones to SHARD_END; any other client
    failure must raise — silent data loss is worse than a dead task."""
    import pytest

    client, r = _mk(tmp_path)
    _fill(client, n=2)
    off0 = r.initialOffset()
    end = r.latestOffset()
    parts = r.partitions(off0, end)

    class ResourceNotFoundException(Exception):
        pass

    class _Gone(FileStubKinesisClient):
        def get_shard_iterator(self, *a, **kw):
            raise ResourceNotFoundException("shard aged out")

    class _Broken(FileStubKinesisClient):
        def get_shard_iterator(self, *a, **kw):
            raise RuntimeError("auth failure")

    import watermill_kinesis_spark.sources.kinesis_aws as ka

    # the batch (backfill) reader drains through the same loop
    batch = ka.KinesisAwsBatchReader(r.options)
    batch_parts = batch.partitions()

    orig = ka._make_client
    try:
        ka._make_client = lambda opts: _Gone(opts["stubdir"])
        rows = _tuples(r.read(parts[0]))
        assert rows == []
        import json as jsonlib
        import os as oslib

        fence = [f for f in oslib.listdir(r._fence_dir) if parts[0].shard_id in f]
        with open(oslib.path.join(r._fence_dir, fence[0])) as f:
            assert jsonlib.load(f)["pos"] == "SHARD_END"
        assert _tuples(batch.read(batch_parts[0])) == []

        ka._make_client = lambda opts: _Broken(opts["stubdir"])
        with pytest.raises(RuntimeError, match="auth failure"):
            _tuples(r.read(parts[1]))
        with pytest.raises(RuntimeError, match="auth failure"):
            _tuples(batch.read(batch_parts[1]))
    finally:
        ka._make_client = orig


def test_kpl_container_deaggregates_on_executors(spark, tmp_path):
    """A KPL aggregate container published to the stub stream must
    explode into per-user-record wire rows with sub-sequence numbers
    through the EXECUTOR-side batch read path."""
    from watermill_kinesis_spark.sources import kinesis_aws
    from watermill_kinesis_spark.streaming import kpl

    stub_dir = str(tmp_path / "stub")
    client = FileStubKinesisClient(stub_dir)
    packed = kpl.aggregate([("k1", b"sub-a"), ("k2", b"sub-b"), ("k1", b"sub-c")])
    client.put("shardId-000000000000", packed, partition_key="k1")
    client.put("shardId-000000000000", "plain", partition_key="kp")

    kinesis_aws.register(spark)
    rows = (
        spark.read.format("kinesis_aws")
        .option("streamName", "s")
        .option(
            "clientfactory",
            "watermill_kinesis_spark.sources.kinesis_stub:file_stub_client",
        )
        .option("stubdir", stub_dir)
        .load()
        .collect()
    )
    datas = sorted(r.data for r in rows)
    assert datas == [b"plain", b"sub-a", b"sub-b", b"sub-c"]
    subseqs = sorted(r.sequence_number for r in rows if ":" in r.sequence_number)
    assert [s.split(":")[1] for s in subseqs] == ["0", "1", "2"]


def test_poll_budget_paces_batches(tmp_path):
    """maxRecords × MAX_POLLS_PER_BATCH bounds one trigger's intake per
    shard (the backpressure knob); the remainder arrives in the next
    batch, in order, without loss."""
    client, r = _mk(tmp_path, maxRecords="2")
    for i in range(14):  # one shard, 14 records; budget = 2*5 = 10
        client.put("shardId-000000000000", f"d{i:02d}")
    off0 = r.initialOffset()
    rows1, off1, _ = _run_batch(r, off0)
    assert [t[0] for t in rows1] == [f"d{i:02d}".encode() for i in range(10)]
    rows2, off2, _ = _run_batch(r, off1)
    assert [t[0] for t in rows2] == [f"d{i:02d}".encode() for i in range(10, 14)]
    rows3, _, _ = _run_batch(r, off2)
    assert rows3 == []


def test_batch_write_then_read_roundtrip(spark, tmp_path):
    """The full batch write quadrant: df.write.format('kinesis_aws')
    publishes from executors through the chunked PutRecords path;
    reading the stream back returns every record with same-key rows on
    the same shard (crc32 routing in the stub mirrors the service's
    stable key→shard mapping)."""
    from pyspark.sql import Row

    from watermill_kinesis_spark.sources import kinesis_aws

    stub_dir = str(tmp_path / "stub")
    FileStubKinesisClient(stub_dir)  # creates the empty state file dir
    kinesis_aws.register(spark)
    wire = spark.createDataFrame(
        [Row(data=f"env-{i}", partition_key=f"k{i % 3}") for i in range(40)]
    )
    (
        wire.write.format("kinesis_aws")
        .option("streamName", "s")
        .option(
            "clientfactory",
            "watermill_kinesis_spark.sources.kinesis_stub:file_stub_client",
        )
        .option("stubdir", stub_dir)
        .mode("append")
        .save()
    )
    back = (
        spark.read.format("kinesis_aws")
        .option("streamName", "s")
        .option(
            "clientfactory",
            "watermill_kinesis_spark.sources.kinesis_stub:file_stub_client",
        )
        .option("stubdir", stub_dir)
        .load()
        .collect()
    )
    assert sorted(r.data for r in back) == sorted(f"env-{i}".encode() for i in range(40))
    # per-key shard affinity (ordered delivery per key, reference
    # marshaller.go:65-69 routing contract)
    by_key = {}
    for r in back:
        by_key.setdefault(r.partition_key, set()).add(r.shard_id)
    assert all(len(shards) == 1 for shards in by_key.values())
    # overwrite mode is refused: a stream cannot be overwritten
    import pytest

    with pytest.raises(Exception, match="append-only"):
        wire.write.format("kinesis_aws").option("streamName", "s").option(
            "clientfactory",
            "watermill_kinesis_spark.sources.kinesis_stub:file_stub_client",
        ).option("stubdir", stub_dir).mode("overwrite").save()


def test_stream_write_quadrant(spark, tmp_path):
    """writeStream.format('kinesis_aws'): a streaming pipe from a
    directory topic into the Kinesis transport — micro-batches publish
    executor-side; everything lands exactly as produced on a clean
    run."""
    from watermill_kinesis_spark.sources import kinesis_aws
    from watermill_kinesis_spark.streaming.sink import (
        DirectoryPublisher,
        PutRecordsEntry,
    )
    from watermill_kinesis_spark.streaming.source import read_topic

    stub_dir = str(tmp_path / "stub")
    FileStubKinesisClient(stub_dir)
    kinesis_aws.register(spark)

    topic = str(tmp_path / "topic")
    DirectoryPublisher(topic, n_shards=2).put_records(
        [PutRecordsEntry(f"m-{i}".encode(), f"k{i % 2}") for i in range(12)]
    )

    stream = read_topic(spark.readStream, topic)
    q = (
        stream.select("data", "partition_key")
        .writeStream.format("kinesis_aws")
        .option("streamName", "s")
        .option(
            "clientfactory",
            "watermill_kinesis_spark.sources.kinesis_stub:file_stub_client",
        )
        .option("stubdir", stub_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    landed = (
        spark.read.format("kinesis_aws")
        .option("streamName", "s")
        .option(
            "clientfactory",
            "watermill_kinesis_spark.sources.kinesis_stub:file_stub_client",
        )
        .option("stubdir", stub_dir)
        .load()
        .collect()
    )
    assert sorted(r.data for r in landed) == sorted(f"m-{i}".encode() for i in range(12))


def test_fence_roundtrip_through_file_uri(tmp_path):
    """positionDir must accept URI schemes like checkpointLocation does
    (r4 ADVICE: the old POSIX fence store failed outright on any
    non-local URI). file:/// exercises the pyarrow-resolved path end to
    end: fences written by read(), merged by the driver, pruned by
    commit(), across two full batches with no loss or duplication."""
    client, r = _mk(tmp_path, positionDir=f"file://{tmp_path}/pos-uri")
    _fill(client, 6)
    start = r.initialOffset()
    rows1, end1, _ = _run_batch(r, start)
    assert sorted(row[0] for row in rows1) == [f"d{i}".encode() for i in range(6)]
    r.commit(end1)
    # fences visible through the plain-path view of the same dir
    plain = str(tmp_path / "pos-uri" / "s")
    assert [f for f in os.listdir(plain) if f.endswith(".json")]
    client.put("shardId-000000000000", "d6", partition_key="k0")
    rows2, end2, _ = _run_batch(r, end1)
    assert [row[0] for row in rows2] == [b"d6"]  # no replay of batch 1


def test_fencestore_normalizes_hadoop_scheme_aliases():
    from watermill_kinesis_spark.sources.fencestore import FenceStore

    assert FenceStore("s3a://bucket/x").base == "s3://bucket/x"
    assert FenceStore("s3n://bucket/x").base == "s3://bucket/x"
    assert FenceStore("/plain/dir").base == "/plain/dir"
    assert FenceStore("file:///plain/dir").base == "file:///plain/dir"


def test_fencestore_not_found_classification():
    """r6 ADVICE: absence was classified by two exact substrings of
    OSError text; a backend whose missing-key message differs (GCS
    'Not Found', errno-only local errors) turned a benign absent fence
    into a task-failing exception. The helper must accept errno ENOENT
    and the message variants case-insensitively — and must NOT swallow
    real transport errors."""
    import errno as _errno

    from watermill_kinesis_spark.sources.fencestore import _is_not_found

    assert _is_not_found(OSError("No such file or directory"))
    assert _is_not_found(OSError("Path does not exist 'x/y'"))
    assert _is_not_found(OSError("gcs: No such object: b/o"))
    assert _is_not_found(OSError("File does not exist: key"))
    e = OSError("backend-specific wording")
    e.errno = _errno.ENOENT
    assert _is_not_found(e)
    assert not _is_not_found(OSError("Permission denied"))
    assert not _is_not_found(OSError("connection reset by peer"))
    # OBJECT-scoped on purpose: bucket-level/auth-proxy 404 text is a
    # store misconfiguration, not an absent fence (r7 review)
    assert not _is_not_found(OSError("bucket Not Found"))


def test_driver_failfast_when_fences_never_visible(tmp_path, monkeypatch):
    """Multi-node misconfiguration shape: executors fence to disks the
    driver cannot see (driver-local default positionDir on a real
    cluster). The driver must hard-fail after 3 planned batches rather
    than silently re-reading the same window forever (r4 ADVICE)."""
    import pytest

    client, r = _mk(tmp_path)
    _fill(client, 4)
    # simulate invisible fences: merging finds nothing, ever
    monkeypatch.setattr(r._store, "list_names", lambda: [])
    start = r.initialOffset()
    end = start
    for _ in range(3):
        end2 = r.latestOffset()
        parts = r.partitions(end, end2)
        assert parts  # batches ARE being planned
        end = end2
    with pytest.raises(RuntimeError, match="positionDir"):
        r.latestOffset()


def test_epoch_counter_seeds_from_restored_offset(tmp_path):
    """ADVICE r4: a restarted reader's epoch counter restarts at 0
    while a replayed pending batch plans under its logged epoch N —
    the counter must seed to N so the fresh run never re-reaches N and
    mistakes the replay's fence for its own epoch-N target."""
    client, r = _mk(tmp_path)
    _fill(client, 4)
    start = r.initialOffset()
    rows, end, _ = _run_batch(r, start)
    assert end["epoch"] == 1 and len(rows) == 4
    # crash before commit: new reader, same positionDir, replay batch 1
    _, r2 = _mk(tmp_path)
    assert r2._epoch == 0
    parts = r2.partitions(start, end)  # replay the logged pending batch
    assert r2._epoch == 1  # seeded from the log
    assert r2.latestOffset()["epoch"] == 2  # next batch does NOT collide


def test_split_defers_children_until_parent_drained(tmp_path):
    """KCL TERMINATE ordering (reference subscriber.go:78-88): after a
    split, no child record may be emitted in a batch before the
    parent's final record was emitted. The parent drains to SHARD_END
    first; children enter only at the NEXT trigger."""
    client, r = _mk(tmp_path)
    client.put("shardId-000000000000", "p0", partition_key="k")
    off0 = r.initialOffset()
    rows1, off1, _ = _run_batch(r, off0)
    assert [t[0] for t in rows1] == [b"p0"]
    # split: parent gets its final record, then closes; children appear
    client.put("shardId-000000000000", "p-final", partition_key="k")
    client.split_shard(
        "shardId-000000000000", "shardId-000000000002", "shardId-000000000003"
    )
    client.put("shardId-000000000002", "c0", partition_key="k")
    # batch 2: ONLY the parent's tail — children gated on SHARD_END
    rows2, off2, parts2 = _run_batch(r, off1)
    assert [t[0] for t in rows2] == [b"p-final"]
    assert {p.shard_id for p in parts2} == {"shardId-000000000000"}
    assert off2["shards"].get("shardId-000000000002") is None or (
        "shardId-000000000002" not in off2["shards"]
    )
    # batch 3: parent fence reported SHARD_END → children admitted
    rows3, off3, parts3 = _run_batch(r, off2)
    assert [t[0] for t in rows3] == [b"c0"]
    assert "shardId-000000000000" not in {p.shard_id for p in parts3}
    assert off3["shards"]["shardId-000000000000"] == SHARD_END
    # no batch ever interleaved child records before the parent's tail
    all_rows = [t[0] for t in rows1 + rows2 + rows3]
    assert all_rows.index(b"c0") > all_rows.index(b"p-final")


def test_merge_child_waits_for_adjacent_parent_unit():
    """A MERGE child carries TWO lineage edges. Admitting on the
    primary ``ParentShardId`` alone (the pre-r6 bug) lets child
    records overtake the adjacent parent's undrained tail; the gate
    must hold until BOTH parents fence SHARD_END."""
    from watermill_kinesis_spark.sources.kinesis_aws import _admit_new_shards

    shards = [
        {"ShardId": "A"},
        {"ShardId": "B"},
        {"ShardId": "C", "ParentShardId": "A", "AdjacentParentShardId": "B"},
    ]
    pos = {"A": SHARD_END, "B": "42"}  # primary drained, adjacent NOT
    _admit_new_shards(pos, shards, "TRIM_HORIZON")
    assert "C" not in pos  # the exact pre-fix admission bug
    pos["B"] = SHARD_END
    _admit_new_shards(pos, shards, "TRIM_HORIZON")
    assert pos["C"] == "TRIM_HORIZON"


def test_merge_ordering_staggered_parents(tmp_path):
    """End-to-end KCL TERMINATE ordering through a MERGE where the
    primary parent drains a full batch BEFORE the adjacent parent
    (the stagger that exposes primary-only gating): the child emits
    nothing until the slow adjacent parent's tail is out."""
    client, r = _mk(tmp_path, maxrecords="1")  # 1 record/poll, 5 polls/batch
    client.put("shardId-000000000000", "a0", partition_key="ka")
    for i in range(11):
        client.put("shardId-000000000001", f"b{i}", partition_key="kb")
    off0 = r.initialOffset()
    rows1, off1, _ = _run_batch(r, off0)  # a0 + b0..b4
    assert sorted(t[0] for t in rows1) == sorted([b"a0"] + [f"b{i}".encode() for i in range(5)])
    client.merge_shards(
        "shardId-000000000000", "shardId-000000000001", "shardId-000000000004"
    )
    client.put("shardId-000000000004", "c0", partition_key="ka")
    # batch 2: A drains to SHARD_END at read time; B reads b5..b9 and
    # still has b10 pending (fences surface in the NEXT planning pass)
    rows2, off2, parts2 = _run_batch(r, off1)
    assert "shardId-000000000004" not in {p.shard_id for p in parts2}
    assert sorted(t[0] for t in rows2) == [f"b{i}".encode() for i in range(5, 10)]
    # batch 3 planning merges batch-2 fences: A=SHARD_END, B mid-drain
    # → the child STILL gated (primary-only gating would admit it HERE)
    rows3, off3, parts3 = _run_batch(r, off2)
    assert off3["shards"]["shardId-000000000000"] == SHARD_END
    assert off3["shards"]["shardId-000000000001"] != SHARD_END
    assert "shardId-000000000004" not in {p.shard_id for p in parts3}
    assert [t[0] for t in rows3] == [b"b10"]
    # batch 4: both parents fenced SHARD_END → child admitted
    rows4, off4, parts4 = _run_batch(r, off3)
    assert off4["shards"]["shardId-000000000001"] == SHARD_END
    assert [t[0] for t in rows4] == [b"c0"]
    all_rows = [t[0] for t in rows1 + rows2 + rows3 + rows4]
    assert all_rows.index(b"c0") > all_rows.index(b"b10")


def test_late_child_pickup_enters_at_pinned_position(tmp_path):
    """A LATEST start pins AT_TS:<t0>; a child admitted after its
    parent drains must enter at that same pin, not TRIM_HORIZON —
    pre-start history must stay unread."""
    client, r = _mk(tmp_path, startingPosition="LATEST")
    client.put("shardId-000000000000", "pre-start", partition_key="k")
    off0 = r.initialOffset()
    assert off0["init"] and off0["init"].startswith("AT_TS:")
    client.split_shard("shardId-000000000000", "shardId-000000000002")
    rows1, off1, _ = _run_batch(r, off0)  # parent drains (post-pin: empty)
    assert rows1 == []
    rows2, off2, _ = _run_batch(r, off1)  # child admitted at the pin
    assert off2["shards"]["shardId-000000000002"] == off0["init"]
    # the pinned child start means pre-start parent history stayed unread
    assert rows2 == []


def test_file_stub_journal_appends_linear_and_compacts(tmp_path):
    """VERDICT r11 task 7: the file-backed stub must append, not
    rewrite — N put batches write O(total records) journal bytes, and
    compaction swaps snapshot generations without losing records for
    a reader that followed the old generation."""
    import json as jsonlib
    import os as oslib

    sdir = str(tmp_path / "stub")
    w = FileStubKinesisClient(sdir)
    reader = FileStubKinesisClient(sdir)  # lockless follower

    batch = [{"Data": b"x" * 64, "PartitionKey": f"k{i}"} for i in range(50)]
    for _ in range(10):
        w.put_records(StreamName="s", Records=list(batch))
    jpath = w._jpath
    assert oslib.path.basename(jpath) == "journal.0.jsonl"
    with open(jpath) as f:
        lines = f.read().splitlines()
    assert len(lines) == 10  # ONE line per batch, not per record
    # every line is a self-contained puts entry
    assert all(jsonlib.loads(ln)["op"] == "puts" for ln in lines)

    # follower sees all 500 records without holding any lock
    n_seen = sum(
        len(reader._shards[s["ShardId"]])
        for s in reader.list_shards()["Shards"]
    )
    assert n_seen == 500

    # force compaction: threshold below current journal size
    w._COMPACT_MIN_BYTES = 1
    w.put_records(StreamName="s", Records=list(batch))
    assert w._gen == 1 and oslib.path.exists(w._path)
    assert not oslib.path.exists(oslib.path.join(sdir, "journal.0.jsonl"))
    assert jsonlib.load(open(w._path))["gen"] == 1
    # the old-generation follower catches up across the swap
    n_seen = sum(
        len(reader._shards[s["ShardId"]])
        for s in reader.list_shards()["Shards"]
    )
    assert n_seen == 550
    # and the sequence counter survived the generation swap
    w2 = FileStubKinesisClient(sdir)
    assert w2._seq == w._seq == 550


def test_file_stub_torn_journal_tail_is_terminated(tmp_path):
    """ADVICE r12: a writer that crashes mid-append leaves a torn
    final line with no newline. The next writer must terminate that
    tail with a lone newline before appending, or O_APPEND glues its
    JSON onto the torn prefix — one unparseable line that replay
    silently skips, losing the NEW mutation to every reader and to
    compaction from any other process."""
    sdir = str(tmp_path / "stub")
    w = FileStubKinesisClient(sdir)
    w.put("shardId-000000000000", b"before", partition_key="k")
    # simulate the crash: chop the journal mid-line (no trailing \n)
    with open(w._jpath, "rb+") as f:
        raw = f.read()
        f.seek(0)
        f.truncate()
        f.write(raw + raw[: len(raw) // 2].rstrip(b"\n"))
    # fresh writer process: replays to the last newline, then appends
    w2 = FileStubKinesisClient(sdir)
    w2.put("shardId-000000000000", b"after", partition_key="k")
    with open(w2._jpath, "rb") as f:
        data = f.read()
    assert data.endswith(b"\n")
    # the torn line and the new entry are SEPARATE lines
    lines = data.splitlines()
    assert lines[-1].startswith(b"{") and b"}{" not in lines[-1]
    # a cold reader sees both complete mutations; the torn one is gone
    r = FileStubKinesisClient(sdir)
    recs = r._shards["shardId-000000000000"]
    assert len(recs) == 2


def test_file_stub_writer_skips_its_own_entries_past_a_torn_tail(tmp_path):
    """A writer that terminates a torn journal tail also counts that
    tail as replayed: its next read must not apply its own entry a
    second time."""
    sdir = str(tmp_path / "stub")
    w = FileStubKinesisClient(sdir)
    w.put("shardId-000000000000", b"before", partition_key="k")
    with open(w._jpath, "ab") as f:
        # a crashed writer's torn line, longer than the next entry
        f.write(b'{"op": "puts", "items": [["shardId-000000000000", "' + b"A" * 400)
    w.put("shardId-000000000000", b"after", partition_key="k")
    w.list_shards()
    assert [r["seq"] for r in w._shards["shardId-000000000000"]] == ["1", "2"]


def test_memory_and_file_stub_clients_answer_alike(tmp_path, monkeypatch):
    """The in-memory and file-backed stub clients are one client: the
    same mutations, then every iterator type and paged GetRecords, get
    equal responses from both, from a file-backed client whose state is
    folded into a snapshot, and from cold clients that only read the
    state directories back."""
    from datetime import datetime, timezone
    from types import SimpleNamespace

    from watermill_kinesis_spark.sources import kinesis_stub

    clock = SimpleNamespace(now=100.0)
    monkeypatch.setattr(kinesis_stub, "time", SimpleNamespace(time=lambda: clock.now))
    dirs = [str(tmp_path / "journal"), str(tmp_path / "snapshot")]
    clients = [kinesis_stub.StubKinesisClient()] + [FileStubKinesisClient(d) for d in dirs]
    clients[2]._COMPACT_MIN_BYTES = 1

    def alike(call, *a, **kw):
        got = [getattr(c, call)(*a, **kw) for c in clients]
        assert all(g == got[0] for g in got), (call, a, kw, got)
        return got[0]

    def put_batch(n, prefix):
        return alike(
            "put_records",
            StreamName="s",
            Records=[{"Data": f"{prefix}{i}", "PartitionKey": f"k{i}"} for i in range(n)],
        )

    # put_records on an empty stream creates its two shards
    assert {r["ShardId"] for r in put_batch(8, "a")["Records"]} == {
        "shardId-000000000000",
        "shardId-000000000001",
    }
    clock.now = 200.0
    alike("put", "shardId-000000000001", b"put-bytes", partition_key="p")
    alike("put", "shardId-000000000002", "put-new-shard", partition_key="p")
    put_batch(6, "b")
    clock.now = 300.0
    alike("split_shard", "shardId-000000000000", "c1", "c2")
    alike("merge_shards", "c1", "c2", "m")
    alike("close_shard", "shardId-000000000002")
    alike("put", "m", b"merged", partition_key="p")

    clients[2]._compact()  # the whole state in the snapshot, no journal
    clients += [FileStubKinesisClient(d) for d in dirs]  # cold
    assert clients[-1]._stamp is not None and clients[-1]._jpos == 0
    shards = [s["ShardId"] for s in alike("list_shards", StreamName="s")["Shards"]]
    assert shards == sorted(
        ["c1", "c2", "m"] + [f"shardId-{i:012d}" for i in range(3)]
    )
    closed = {"c1", "c2", "shardId-000000000000", "shardId-000000000002"}
    for shard in shards:
        recs = clients[0]._shards[shard]
        starts = [
            {"ShardIteratorType": "TRIM_HORIZON"},
            {"ShardIteratorType": "LATEST"},
            {"ShardIteratorType": "AT_TIMESTAMP", "Timestamp": 150.0},
            {
                "ShardIteratorType": "AT_TIMESTAMP",
                "Timestamp": datetime.fromtimestamp(250.0, tz=timezone.utc),
            },
        ]
        for rec in recs[:2]:
            for kind in ("AT_SEQUENCE_NUMBER", "AFTER_SEQUENCE_NUMBER"):
                starts.append(
                    {"ShardIteratorType": kind, "StartingSequenceNumber": rec["seq"]}
                )
        for start in starts:
            it = alike("get_shard_iterator", "s", shard, **start)["ShardIterator"]
            for _ in range(len(recs) + 2):  # pages of 2, then an empty one
                page = alike("get_records", ShardIterator=it, Limit=2)
                it = page["NextShardIterator"]
                if it is None or not page["Records"]:
                    break
            assert (it is None) == (shard in closed)
    assert clients[0].calls == clients[1].calls
