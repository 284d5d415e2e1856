"""In-memory and file-backed boto3-Kinesis stand-ins for tests, the dev
loop and the benchmark.

Implements the calls the ``kinesis_aws`` source and sink use
(``list_shards`` / ``get_shard_iterator`` / ``get_records`` /
``put_records``) with real Kinesis semantics: per-shard monotonically
increasing sequence numbers, iterator types TRIM_HORIZON / LATEST /
AT_TIMESTAMP / AT_SEQUENCE_NUMBER / AFTER_SEQUENCE_NUMBER,
``MillisBehindLatest`` backlog signaling, and closed shards that drain
then return a null ``NextShardIterator`` (the SHARD_END condition,
reference subscriber.go:78-88).

This is the consume-side counterpart of ``sink.CollectingPublisher``
and plays the same role as the reference's ``testProducer`` stub
(reference subscriber/subscriber_test.go:14-25): exercise the full
protocol without the service.

Both clients are one event-sourced client. Every mutation is a list of
journal entries (``puts``, ``add``, ``close``, ``adj``) built from the
current state, and ``_apply`` folds one entry into the state. The
in-memory client's ``_commit`` only applies them; the file-backed
client's ``_commit`` also appends them to a journal under a file lock,
so that clients in other processes replay the same entries. Records are
kept in one stored form (base64 ``data``, ``key``, ``seq``, epoch
``ts``), the form the journal and snapshot hold; ``get_records``
converts only the page it serves.
"""

from __future__ import annotations

import base64
import fcntl
import json
import os
import time
import zlib
from datetime import datetime, timezone


def _stored(seq: int, key: str, data: bytes | str, ts: float) -> dict:
    """A record in the one form the shard lists, journal and snapshot hold."""
    if isinstance(data, str):
        data = data.encode("utf-8")
    return {
        "data": base64.b64encode(data).decode("ascii"),
        "key": key,
        "seq": str(seq),
        "ts": ts,
    }


def _served(r: dict) -> dict:
    """A stored record as GetRecords returns it."""
    ts = r["ts"]
    return {
        "Data": base64.b64decode(r["data"]),
        "PartitionKey": r["key"],
        "SequenceNumber": r["seq"],
        "ApproximateArrivalTimestamp": (
            None if ts is None else datetime.fromtimestamp(ts, tz=timezone.utc)
        ),
    }


def _add(shard: str, parent: str | None) -> dict:
    return {"op": "add", "shard": shard, "parent": parent}


def _close(shard: str) -> dict:
    return {"op": "close", "shard": shard}


class StubKinesisClient:
    """In-memory stream. Records live in per-shard lists; iterators are
    stateless JSON tokens ``{"shard": ..., "idx": ...}`` — like the real
    service, an iterator survives process boundaries."""

    def __init__(self):
        self._shards: dict[str, list[dict]] = {}
        self._closed: set[str] = set()
        self._parents: dict[str, str] = {}
        self._adj_parents: dict[str, str] = {}
        self._seq = 0
        #: call log for assertions
        self.calls: list[str] = []

    # -- event sourcing ----------------------------------------------

    def _refresh(self) -> None:
        """Catch up with mutations made by other clients (none in memory)."""

    def _commit(self, build) -> list[dict]:
        """Apply the journal entries ``build()`` makes from the current
        state, and return them."""
        entries = build()
        for e in entries:
            self._apply(e)
        return entries

    def _apply(self, e: dict) -> None:
        op = e.get("op")
        if op == "puts":
            for shard in e.get("shards", ()):  # shards created empty
                self._shards.setdefault(shard, [])
            for shard, rec in e["items"]:
                self._shards.setdefault(shard, []).append(rec)
            self._seq = max(self._seq, int(e["seq"]))
        elif op == "add":
            self._shards.setdefault(e["shard"], [])
            if e.get("parent"):
                self._parents[e["shard"]] = e["parent"]
        elif op == "close":
            self._closed.add(e["shard"])
        elif op == "adj":
            self._adj_parents[e["child"]] = e["adjacent"]

    def _puts(self, items: list[tuple[str, str, bytes | str]]) -> dict:
        """One ``puts`` entry for ``(shard, key, data)`` items, numbered
        on from the current sequence counter, with one arrival time for
        the whole call."""
        ts = round(time.time(), 6)  # microseconds, as the served datetime
        recs = [
            [shard, _stored(self._seq + i, key, data, ts)]
            for i, (shard, key, data) in enumerate(items, 1)
        ]
        return {"op": "puts", "seq": self._seq + len(recs), "items": recs}

    # -- producer/test controls --------------------------------------

    def put(self, shard_id: str, data: bytes | str, partition_key: str = "k"):
        self._commit(lambda: [self._puts([(shard_id, partition_key, data)])])

    def add_shard(self, shard_id: str, parent: str | None = None) -> None:
        self._commit(lambda: [_add(shard_id, parent)])

    def close_shard(self, shard_id: str) -> None:
        """No more records will arrive; readers drain then see a null
        NextShardIterator (split/merge retirement)."""
        self._commit(lambda: [_close(shard_id)])

    def split_shard(self, parent: str, *children: str) -> None:
        """Service-shaped split: children appear carrying
        ``ParentShardId``, the parent closes (drains then SHARD_END) —
        the lineage ``list_shards`` exposes on the real service."""
        self._commit(lambda: [_add(c, parent) for c in children] + [_close(parent)])

    def merge_shards(self, parent: str, adjacent: str, child: str) -> None:
        """Service-shaped merge: ONE child carrying BOTH lineage edges
        (``ParentShardId`` = parent, ``AdjacentParentShardId`` =
        adjacent, exactly as MergeShards reports them); both parents
        close and drain independently to SHARD_END."""
        self._commit(
            lambda: [
                _add(child, parent),
                _close(parent),
                _close(adjacent),
                {"op": "adj", "child": child, "adjacent": adjacent},
            ]
        )

    # -- boto3-shaped API --------------------------------------------

    def put_records(self, StreamName=None, Records=None):
        """boto3-shaped PutRecords: routes each record to a shard by
        crc32(partition key) — stable like the service's MD5 routing —
        and appends with monotonically increasing sequence numbers. A
        stream with no shards gets two."""
        self.calls.append("put_records")

        def build():
            shards = sorted(self._shards) or [f"shardId-{i:012d}" for i in range(2)]
            items = []
            for rec in Records or []:
                key = rec.get("PartitionKey") or "0"
                shard = shards[zlib.crc32(key.encode("utf-8")) % len(shards)]
                items.append((shard, key, rec["Data"]))
            return [self._puts(items) | {"shards": shards}]

        (entry,) = self._commit(build)
        return {
            "FailedRecordCount": 0,
            "Records": [
                {"SequenceNumber": rec["seq"], "ShardId": shard}
                for shard, rec in entry["items"]
            ],
        }

    def list_shards(self, StreamName=None, NextToken=None):
        self._refresh()
        self.calls.append("list_shards")
        return {
            "Shards": [
                {"ShardId": s}
                | ({"ParentShardId": self._parents[s]} if s in self._parents else {})
                | (
                    {"AdjacentParentShardId": self._adj_parents[s]}
                    if s in self._adj_parents
                    else {}
                )
                for s in sorted(self._shards)
            ]
        }

    def get_shard_iterator(
        self,
        StreamName,
        ShardId,
        ShardIteratorType,
        StartingSequenceNumber=None,
        Timestamp=None,
    ):
        self._refresh()
        self.calls.append(f"get_shard_iterator:{ShardIteratorType}")
        recs = self._shards.get(ShardId, [])
        if ShardIteratorType == "TRIM_HORIZON":
            idx = 0
        elif ShardIteratorType == "LATEST":
            idx = len(recs)
        elif ShardIteratorType == "AT_TIMESTAMP":
            # first record whose arrival ts >= Timestamp (service
            # semantics); Timestamp arrives as datetime (boto3) or
            # epoch seconds
            t = (
                Timestamp.timestamp()
                if hasattr(Timestamp, "timestamp")
                else float(Timestamp)
            )
            idx = next(
                (
                    i
                    for i, r in enumerate(recs)
                    if r["ts"] is not None and r["ts"] >= t
                ),
                len(recs),
            )
        elif ShardIteratorType in ("AT_SEQUENCE_NUMBER", "AFTER_SEQUENCE_NUMBER"):
            idx = next(
                (
                    i
                    for i, r in enumerate(recs)
                    if r["seq"] == StartingSequenceNumber
                ),
                len(recs),
            )
            if ShardIteratorType == "AFTER_SEQUENCE_NUMBER":
                idx += 1
        else:  # pragma: no cover - guard
            raise ValueError(f"unsupported iterator type {ShardIteratorType}")
        return {"ShardIterator": json.dumps({"shard": ShardId, "idx": idx})}

    def get_records(self, ShardIterator, Limit=1000):
        self._refresh()
        self.calls.append("get_records")
        tok = json.loads(ShardIterator)
        shard, idx = tok["shard"], tok["idx"]
        recs = self._shards.get(shard, [])
        batch = [_served(r) for r in recs[idx : idx + Limit]]
        nxt = idx + len(batch)
        drained_closed = shard in self._closed and nxt >= len(recs)
        return {
            "Records": batch,
            "NextShardIterator": None
            if drained_closed
            else json.dumps({"shard": shard, "idx": nxt}),
            "MillisBehindLatest": 1000 if nxt < len(recs) else 0,
        }


def demo_client() -> StubKinesisClient:
    """clientfactory target for end-to-end readStream tests: a fixed
    two-shard stream of five valid wire envelopes and one corrupt
    record (exercising the poison-skip path end to end)."""
    c = StubKinesisClient()
    for i in range(5):
        env = json.dumps(
            {
                "watermill_message_uuid": f"uuid-{i}",
                "data": base64.b64encode(f"payload-{i}".encode()).decode(),
                "headers": {"partitionKey": f"k{i % 2}"},
            }
        )
        c.put(f"shardId-{i % 2:012d}", env, partition_key=f"k{i % 2}")
    c.put("shardId-000000000000", b"{not json", partition_key="k0")
    return c


class FileStubKinesisClient(StubKinesisClient):
    """Disk-backed stub: shard state lives in ``<dir>`` as a compacted
    ``state.json`` snapshot plus a generation-numbered APPEND-ONLY
    ``journal.<gen>.jsonl`` of the entries committed since the
    snapshot, so a factory-constructed client in an EXECUTOR python
    worker sees the records the test's driver-side client put —
    required to exercise the parallel (``DataSourceStreamReader``) read
    path, where ``get_records`` runs in separate worker processes.

    Every mutation appends one JSONL line per entry (a put_records
    batch is one line), like the real service appends to a shard, so N
    puts write O(total records) bytes, not the O(N²) of rewriting the
    whole state per put. Writers serialize through the ``.lock``
    flock and build their entries after replaying the journal, so
    sequence numbers stay monotone across processes. Readers replay
    only the journal bytes past their consumed offset, locklessly
    (complete lines only — a torn tail is left for the next replay).
    Compaction folds the journal into a new snapshot generation when
    the journal outgrows ``max(1 MiB, snapshot size)`` — the
    log-structured doubling rule, so total compaction I/O is O(N)
    amortized, never quadratic. The generation number in the journal
    FILENAME makes the snapshot swap atomic for lockless readers: a
    reader on generation g replays journal.g (an unlinked file stays
    readable on POSIX); its next call stats the replaced snapshot,
    reparses, and follows journal.(g+1)."""

    #: journal size that triggers compaction, floored at 1 MiB and
    #: scaled to the snapshot so compaction cost stays amortized-O(N)
    _COMPACT_MIN_BYTES = 1 << 20

    def __init__(self, state_dir: str):
        super().__init__()
        self._dir = state_dir
        self._path = os.path.join(state_dir, "state.json")
        self._stamp: tuple[int, int] | None = None
        self._gen = 0
        self._jpos = 0  # journal bytes already replayed into memory
        self._refresh()

    @property
    def _jpath(self) -> str:
        return os.path.join(self._dir, f"journal.{self._gen}.jsonl")

    def _refresh(self) -> None:
        # mtime+size guard on the snapshot: a changed snapshot means
        # another process compacted — reparse and jump generations.
        # Unchanged snapshot = replay only new journal bytes, so an
        # idle get_records costs two stat() calls, nothing more.
        try:
            st = os.stat(self._path)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is not None and stamp != self._stamp:
            try:
                with open(self._path) as f:
                    raw = json.load(f)
            except (OSError, ValueError):
                raw = None
            if raw is not None:
                self._stamp = stamp
                self._gen = raw.get("gen", 0)
                self._jpos = 0
                self._seq = raw["seq"]
                self._closed = set(raw["closed"])
                self._parents = raw.get("parents", {})
                self._adj_parents = raw.get("adj_parents", {})
                self._shards = raw["shards"]
        try:
            size = os.path.getsize(self._jpath)
        except OSError:
            return
        if size <= self._jpos:
            return
        with open(self._jpath, "rb") as f:
            f.seek(self._jpos)
            buf = f.read(size - self._jpos)
        end = buf.rfind(b"\n")  # torn tail: wait for the writer
        if end < 0:
            return
        for line in buf[: end + 1].splitlines():
            try:
                self._apply(json.loads(line))
            except ValueError:  # blank or torn-then-terminated line
                continue
        self._jpos += end + 1

    def _commit(self, build) -> list[dict]:
        os.makedirs(self._dir, exist_ok=True)
        with open(os.path.join(self._dir, ".lock"), "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            self._refresh()
            entries = super()._commit(build)
            self._append(entries)
            # the journal now ends at _jpos; the stamp is the snapshot's
            if self._jpos >= max(
                self._COMPACT_MIN_BYTES, self._stamp[1] if self._stamp else 0
            ):
                self._compact()
        return entries

    def _append(self, entries: list[dict]) -> None:
        # lock held and journal replayed to its last newline, so
        # advancing _jpos by our own write keeps the next replay from
        # re-applying these entries
        data = "".join(json.dumps(e) + "\n" for e in entries).encode("utf-8")
        fd = os.open(self._jpath, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
        try:
            # A writer that crashed mid-append leaves a torn final line
            # with no newline; replay stops at the last newline, so
            # _jpos < EOF detects it. Terminate the torn tail with a
            # lone "\n" first so our entries start on a fresh line —
            # otherwise O_APPEND would glue our JSON onto the torn
            # prefix and BOTH mutations would be silently skipped.
            size = os.fstat(fd).st_size
            if size > self._jpos:
                data = b"\n" + data
                self._jpos = size
            os.write(fd, data)
        finally:
            os.close(fd)
        self._jpos += len(data)

    def _compact(self) -> None:
        # lock held, journal fully replayed: write the state as snapshot
        # generation g+1 and retire journal.g
        old_jpath = self._jpath
        self._gen += 1
        snapshot = {
            "gen": self._gen,
            "seq": self._seq,
            "closed": sorted(self._closed),
            "shards": self._shards,
            "parents": self._parents,
            "adj_parents": self._adj_parents,
        }
        tmp = f"{self._path}.tmp-{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(snapshot, f)
        os.replace(tmp, self._path)
        self._jpos = 0
        st = os.stat(self._path)
        self._stamp = (st.st_mtime_ns, st.st_size)
        try:
            os.remove(old_jpath)
        except OSError:
            pass


_client_cache: dict[str, FileStubKinesisClient] = {}

#: LRU bound on cached stub clients: long pytest/bench sessions create
#: many unique temp state dirs, and each cached client pins a fully
#: parsed state in memory. A handful covers every concurrent-stream
#: scenario the suite runs.
_CLIENT_CACHE_MAX = 4


def file_stub_client(options) -> FileStubKinesisClient:
    """clientfactory target for parallel-reader tests:
    ``option('stubdir', <dir>)`` points at the shared state dir.
    Cached per state dir within a process — real boto3 clients are
    long-lived too, and Spark reuses python worker processes across
    tasks, so a fresh multi-MB state parse per task would charge stub
    bookkeeping to every throughput measurement. Staleness is handled
    inside the client: every API call re-stats the state file and
    reparses only when it changed. The cache is LRU-bounded and drops
    entries whose state dir no longer exists (reaped temp dirs)."""
    sdir = options.get("stubdir")
    for k in [
        k
        for k, v in _client_cache.items()
        if k != sdir and not os.path.isdir(v._dir)
    ]:
        del _client_cache[k]
    c = _client_cache.pop(sdir, None)
    if c is None:
        c = FileStubKinesisClient(sdir)
    else:
        c._refresh()
    _client_cache[sdir] = c  # re-insert = most recently used
    while len(_client_cache) > _CLIENT_CACHE_MAX:
        del _client_cache[next(iter(_client_cache))]  # evict LRU
    return c
