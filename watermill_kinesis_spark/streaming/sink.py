"""Kinesis-like publish sink: the one put loop of the message layer.

Reference behavior reproduced and repaired (SURVEY.md §2-A #1, §3.1):
- ``Publish`` marshals messages and calls ``PutRecords``
  (reference publisher.go:64-86). The reference hard-errors above 500
  records (its batch split is a ``TODO``, reference publisher.go:65)
  and **discards** the ``PutRecords`` response, silently dropping
  partial failures (reference publisher.go:84). This sink chunks to
  ≤500 per call and retries failed entries with bounded attempts.

The one rule: ``publish_batch`` and the builder's
``Publisher.publish``/``publish_stream`` go through :func:`put_wire`,
which repartitions the wire records by partition key
(``preserve_key_order``, on by default) and puts each partition from
its own executor. All records of a key therefore reach the service in
one partition's ordered put calls, the per-key order the reference gets
from one ``PutRecords`` per batch (reference marshaller.go:65-69). The
``kinesis_aws`` DataSource writer is the one other caller of the put
loop: it puts each Spark write task's rows through :func:`put_chunked`
as the task receives them, without a key repartition. The service
client is built per partition on the executor, never serialized from
the driver.

Record data is bytes from end to end: :func:`wire_entries`, shared by
both callers, is the one place a text ``data`` becomes bytes, and every
publisher here stores or sends the bytes as it gets them.
"""

from __future__ import annotations

import base64
import os
import time
from collections.abc import Callable, Iterable, Iterator

from pyspark.sql import DataFrame, functions as F

from watermill_kinesis_spark import codec
from watermill_kinesis_spark.schema import MAX_RECORDS_PER_PUT


class PutRecordsEntry:
    """One wire record: (data, partition_key) — the shape of a Kinesis
    PutRecordsRequestEntry (reference marshaller.go:61-70). ``data`` is
    the record's bytes, whatever codec made them."""

    __slots__ = ("data", "partition_key")

    def __init__(self, data: bytes, partition_key: str | None):
        self.data = data
        self.partition_key = partition_key


def wire_entries(rows: Iterable) -> list[PutRecordsEntry]:
    """Wire rows ``(data, partition_key)`` → put entries. A text
    ``data`` (a hand-built wire) becomes its UTF-8 bytes here, once, as
    Spark's Kafka sink takes a string or binary ``value``."""
    return [
        PutRecordsEntry(
            r.data.encode("utf-8") if isinstance(r.data, str) else r.data,
            r.partition_key,
        )
        for r in rows
    ]


class PutRecordsResult:
    """Per-call result with per-record failures (the part of the
    PutRecords response the reference ignored)."""

    def __init__(self, failed_indexes: list[int] | None = None):
        self.failed_indexes = failed_indexes or []


class DirectoryPublisher:
    """File-backed stand-in for the Kinesis service and the one writer
    of the directory transport: each put lands one JSON-lines file per
    touched shard in the topic directory (read back by
    ``source.read_topic``). Used by tests and the local dev loop, same
    role as the reference's Localstack harness. A line carries the
    record bytes as base64 text, the form Spark's JSON source reads back
    into a BINARY column.

    Each file becomes visible whole: it is written under a dot-prefixed
    temp name (Spark's file source skips hidden files) and renamed into
    place, so a reader listing the topic mid-put never sees a truncated
    line, and a put that fails halfway leaves nothing visible."""

    def __init__(self, topic_dir: str, n_shards: int = 4):
        self.topic_dir = topic_dir
        self.n_shards = n_shards

    def put_records(self, entries: list[PutRecordsEntry]) -> PutRecordsResult:
        import json
        import uuid as uuidlib
        import zlib

        os.makedirs(self.topic_dir, exist_ok=True)
        by_shard: dict[int, list[str]] = {}
        for seq, e in enumerate(entries):
            # deterministic hash: Python's builtin hash() is
            # PYTHONHASHSEED-randomized per process, which would route the
            # same key to different shards across executors/runs and break
            # the per-key FIFO contract (reference marshaller.go:65-69 —
            # Kinesis's MD5-of-partition-key routing is stable too)
            shard = (
                zlib.crc32(e.partition_key.encode("utf-8")) % self.n_shards
                if e.partition_key
                else 0
            )
            by_shard.setdefault(shard, []).append(
                json.dumps(
                    {
                        "data": base64.b64encode(e.data).decode("ascii"),
                        "partition_key": e.partition_key,
                        "sequence_number": str(seq),
                        "shard_id": f"shard-{shard}",
                        "approximate_arrival_timestamp": None,
                    }
                )
            )
        # monotonic time prefix: lexicographic file order == publish
        # order within a producer; the random token breaks
        # same-nanosecond collisions across concurrent producers
        # (cross-producer order is loose, exactly like Kinesis sequence
        # numbers across PutRecords calls)
        token = f"{time.time_ns():020d}-{uuidlib.uuid4().hex[:8]}"
        for shard, lines in by_shard.items():
            name = f"shard-{shard}-put-{token}.json"
            tmp = os.path.join(self.topic_dir, f".{name}.tmp")
            try:
                with open(tmp, "w") as f:
                    f.write("\n".join(lines) + "\n")
                os.replace(tmp, os.path.join(self.topic_dir, name))
            except BaseException:
                if os.path.exists(tmp):
                    os.remove(tmp)
                raise
        return PutRecordsResult()


class KinesisPublisher:
    """Real AWS Kinesis publisher behind the same ``put_records``
    protocol (reference publisher.go:79-85) — the deployable
    counterpart of ``DirectoryPublisher``.

    Differences from the reference, on purpose:
    - the ``PutRecords`` response is READ, not discarded (reference
      publisher.go:84): entries whose response row carries an
      ``ErrorCode`` (throttle, internal failure) surface as
      ``failed_indexes`` so ``put_chunked`` retries those records
      (and the later records of their keys) with backoff;
    - >500-record requests never happen — ``put_chunked`` splits first
      (the reference hard-errors instead, publisher.go:65-68).

    The client is built ON THE EXECUTOR — boto3 clients don't pickle —
    by ``sources.kinesis_aws._make_client``, the one client builder of
    the message layer (region and Localstack ``endpoint_url``
    overrides, the reference's WithEndpoint, publisher.go:28-34); tests
    inject a stub client."""

    def __init__(self, stream_name: str, client: object):
        self._client = client
        self.stream_name = stream_name

    def put_records(self, entries: list[PutRecordsEntry]) -> PutRecordsResult:
        records = [
            {
                "Data": e.data,
                # Kinesis requires a non-empty partition key; keyless
                # messages share one key = one shard, matching the
                # simulator's shard-0 routing for None keys
                "PartitionKey": e.partition_key or "0",
            }
            for e in entries
        ]
        resp = self._client.put_records(
            StreamName=self.stream_name, Records=records
        )
        failed = [
            i
            for i, r in enumerate(resp.get("Records", []))
            if r.get("ErrorCode")
        ]
        return PutRecordsResult(failed_indexes=failed)


class CollectingPublisher:
    """In-memory publisher for unit tests; optionally fails the first
    ``fail_first`` entries of each call once, to exercise the retry
    path the reference lacks."""

    def __init__(self, fail_first: int = 0):
        self.calls: list[list[PutRecordsEntry]] = []
        self.records: list[PutRecordsEntry] = []
        self._fail_budget = fail_first

    def put_records(self, entries: list[PutRecordsEntry]) -> PutRecordsResult:
        self.calls.append(entries)
        n_fail = min(self._fail_budget, len(entries))
        self._fail_budget -= n_fail
        self.records.extend(entries[n_fail:])
        return PutRecordsResult(failed_indexes=list(range(n_fail)))


def put_chunked(
    publisher,
    entries: list[PutRecordsEntry],
    max_per_call: int = MAX_RECORDS_PER_PUT,
    max_retries: int = 3,
    backoff_s: float = 0.05,
) -> int:
    """Publish entries in ≤``max_per_call`` chunks, retrying per-record
    failures (fixes reference publisher.go:65 TODO and the discarded
    response at publisher.go:84). Returns the number of entries
    published. Raises if records still fail after ``max_retries`` — the
    error must surface so Spark fails (and later retries) the batch:
    that is the nack path (SURVEY.md §2-A #7).

    Per-key order under a partial failure: a retry resends each failed
    record AND every later record of the same partition key in the
    chunk, even those that already landed, so the last copy of each
    record lands in send order (the per-key FIFO of reference
    marshaller.go:65-69). The trade-off is duplicates: one failed
    record of a hot key resends the rest of that key's chunk, which
    at-least-once delivery allows. The order holds for the stream as
    delivered; a consumer that drops repeated UUIDs keeping the first
    copy (``semantics.dedup_by_uuid``) can still see a resent record
    ahead of the failed one. Keyless records carry no order and are
    resent only when they failed themselves."""
    for i in range(0, len(entries), max_per_call):
        chunk = entries[i : i + max_per_call]
        for attempt in range(max_retries + 1):
            failed = publisher.put_records(chunk).failed_indexes
            if not failed:
                break
            if attempt == max_retries:
                raise RuntimeError(
                    f"{len(failed)} records failed after {max_retries} retries"
                )
            chunk = _resend(chunk, failed)
            time.sleep(backoff_s * (2**attempt))
    return len(entries)


def _resend(
    chunk: list[PutRecordsEntry], failed: list[int]
) -> list[PutRecordsEntry]:
    """The failed records of ``chunk`` plus, from a key's first failed
    record on, every later record of that key — in chunk order."""
    failed_set = set(failed)
    stalled: set[str] = set()
    out = []
    for j, e in enumerate(chunk):
        if j in failed_set:
            out.append(e)
            if e.partition_key is not None:
                stalled.add(e.partition_key)
        elif e.partition_key in stalled:
            out.append(e)
    return out


def put_wire(
    wire: DataFrame,
    publisher_factory: Callable[[], object],
    preserve_key_order: bool = True,
) -> None:
    """Partition-parallel chunked put of wire records
    ``(data, partition_key)``.

    ``publisher_factory`` is called once per partition ON THE EXECUTOR
    (a picklable zero-arg callable) — service clients never cross the
    driver/executor boundary."""
    if preserve_key_order:
        # co-locate each key in one partition so chunked puts preserve
        # the per-key FIFO contract (reference marshaller.go:65-69)
        wire = wire.repartition(F.col("partition_key"))

    def run(rows: Iterator) -> None:
        entries = wire_entries(rows)
        if entries:
            put_chunked(publisher_factory(), entries)

    wire.foreachPartition(run)


def publish_batch(
    messages: DataFrame,
    publisher_factory: Callable[[], object],
    preserve_key_order: bool = True,
) -> None:
    """Batch publish: JSON-envelope marshal (``codec.marshal``), then
    :func:`put_wire`."""
    put_wire(codec.marshal(messages), publisher_factory, preserve_key_order)


def idempotent_batch_sink(out_dir: str) -> Callable[[DataFrame, int], None]:
    """Exactly-once file sink for ``foreachBatch``: each micro-batch
    lands in its own ``batch_id=<epoch>`` directory with
    ``mode("overwrite")``, so a replayed epoch (crash after the write
    but before the checkpoint commit — the at-least-once window the
    reference leaves open, subscriber.go:61-70) OVERWRITES its own
    previous output instead of appending duplicates. Epoch id +
    overwrite is the standard recipe for upgrading Spark's
    at-least-once ``foreachBatch`` contract to exactly-once on any
    atomically-replaceable target (files here; MERGE-on-epoch for
    tables, transactional produce for queues). Complements the
    consumer-side uuid dedup in semantics.dedup_by_uuid — either side
    alone suffices, together they survive non-idempotent readers AND
    non-replayable sinks."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )

    return write


def dead_letter_sink(
    inner: Callable[[DataFrame, int], None],
    dlq_dir: str,
    max_attempts: int = 3,
) -> Callable[[DataFrame, int], None]:
    """Bounded-retry → dead-letter wrapper for any ``foreachBatch``
    sink — the engine's answer to the reference's UNBOUNDED nack loop
    (reference subscriber/subscriber.go:92-95, README.md:53: a nacked
    message redelivers immediately, forever, so one poison message
    wedges its shard permanently).

    Semantics: a failing epoch re-raises (→ Spark leaves the epoch
    uncommitted; the restarted query replays it from the checkpoint —
    the engine's nack), but only ``max_attempts`` times. On the last
    allowed failure the whole batch is quarantined as parquet under
    ``dlq_dir/batch_id=<epoch>`` (epoch-overwrite, so a replay of the
    quarantine itself stays idempotent) and the error is swallowed —
    the epoch commits and the stream PROGRESSES past the poison batch.
    Attempt counts persist as marker files under ``dlq_dir/_attempts``,
    so the budget survives driver restarts (which is exactly when it
    matters: each retry IS a restart).

    The quarantined parquet is a queryable DataFrame — replayable into
    the main sink after the bug is fixed, the operational contract a
    DLQ exists for. Complements the *record*-level corrupt-skip path
    (codec.unmarshal drop_corrupt, reference subscriber.go:54-59):
    that one handles undecodable records, this one handles decodable
    batches whose *processing* keeps failing.

    Marker I/O goes through the Hadoop FileSystem API resolved from the
    marker path itself — the SAME abstraction the parquet quarantine
    write uses — so a remote ``dlq_dir`` (s3a://, hdfs://, dbfs:/)
    works and the budget survives driver-host replacement (exactly when
    retries happen). Driver-local ``os`` calls would silently write a
    bogus local path in that case and the budget would never advance."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        marker = f"{dlq_dir}/_attempts/epoch-{batch_id}"
        fs, mpath = _hadoop_fs(spark, marker)
        try:
            inner(batch_df, batch_id)
        except Exception:
            prior = 0
            if fs.exists(mpath):
                prior = int(_fs_read_text(spark, fs, mpath).strip() or 0)
            attempts = prior + 1
            _fs_write_text(fs, mpath, str(attempts))
            if attempts < max_attempts:
                raise  # nack: uncommitted epoch replays on restart
            batch_df.write.mode("overwrite").parquet(
                f"{dlq_dir}/batch_id={batch_id}"
            )
            # budget spent and batch quarantined: clear the marker so a
            # FRESH checkpoint that happens to reuse this epoch id gets
            # a full budget. If this very epoch replays (crash between
            # quarantine and commit), the retries re-earn the same
            # quarantine — the overwrite keeps that idempotent.
            fs.delete(mpath, False)
            # swallow: the epoch commits; the stream moves on
            return
        # success: clear any stale budget so a later reuse of this
        # epoch id (fresh checkpoint) starts with a full budget
        if fs.exists(mpath):
            fs.delete(mpath, False)

    return write


def _hadoop_fs(spark, path_str: str):
    """(FileSystem, Path) for a URI via the session's Hadoop conf —
    resolves local paths, s3a://, hdfs://, etc. uniformly."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def _fs_read_text(spark, fs, jpath) -> str:
    stream = fs.open(jpath)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def _fs_write_text(fs, jpath, text: str) -> None:
    out = fs.create(jpath, True)  # overwrite; creates parent dirs
    try:
        out.write(bytearray(text, "utf-8"))
    finally:
        out.close()
