"""KPL record aggregation / de-aggregation, pure Python.

The reference delegates KPL de-aggregation to
``awslabs/kinesis-aggregation`` (reference go.mod:27): the Kinesis
Producer Library packs many user records into one Kinesis record to
beat the 1,000 records/s/shard service limit, and consumers must
unpack transparently. This module owes that semantics back without a
protobuf dependency — the KPL container is a tiny, stable wire format
(public spec in the awslabs/kinesis-aggregation repo):

    magic 0xF3 0x89 0x9A 0xC2
    protobuf(AggregatedRecord{
        repeated string partition_key_table   = 1;
        repeated string explicit_hash_key_table = 2;
        repeated Record{
            uint64 partition_key_index        = 1;
            optional uint64 explicit_hash_key_index = 2;
            bytes  data                       = 3;
        }                                     = 3;
    })
    md5(protobuf payload)   # 16 bytes

so a ~60-line hand-rolled varint codec covers both directions. The
encoder exists for tests and as the producer-side packing utility (the
KPL's batching face); the decoder is wired into the ``kinesis_aws``
source so aggregated records explode transparently, exactly what the
KCL does for the reference.
"""

from __future__ import annotations

import hashlib

#: the KPL container magic prefix
KPL_MAGIC = b"\xf3\x89\x9a\xc2"


def is_aggregated(data: bytes) -> bool:
    """True iff the record bytes look like a KPL aggregate container
    (magic prefix + room for the md5 trailer)."""
    return len(data) >= len(KPL_MAGIC) + 16 and data[:4] == KPL_MAGIC


# -- minimal protobuf wire helpers ------------------------------------


def _read_varint(buf: bytes, i: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        if i >= len(buf):
            raise ValueError("truncated varint")
        b = buf[i]
        i += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, i
        shift += 7
        if shift > 63:
            raise ValueError("varint too long")


def _write_varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _write_len_delimited(field_no: int, payload: bytes) -> bytes:
    return _write_varint(field_no << 3 | 2) + _write_varint(len(payload)) + payload


# -- decode ------------------------------------------------------------


def deaggregate(data: bytes) -> list[tuple[str, bytes]]:
    """Unpack a KPL aggregate into ``[(partition_key, payload), ...]``.
    Raises ``ValueError`` on a bad magic, bad checksum, or malformed
    protobuf — callers route those through the corrupt-record path
    (reference subscriber.go:54-59), never crash the stream."""
    if not is_aggregated(data):
        raise ValueError("not a KPL aggregate container")
    body, digest = data[4:-16], data[-16:]
    if hashlib.md5(body).digest() != digest:
        raise ValueError("KPL aggregate checksum mismatch")
    keys: list[str] = []
    records: list[tuple[int, bytes]] = []
    i = 0
    while i < len(body):
        tag, i = _read_varint(body, i)
        field_no, wire_type = tag >> 3, tag & 7
        if wire_type != 2:
            raise ValueError(f"unexpected wire type {wire_type} at top level")
        ln, i = _read_varint(body, i)
        chunk, i = body[i : i + ln], i + ln
        if len(chunk) != ln:
            raise ValueError("truncated field")
        if field_no == 1:  # partition_key_table
            keys.append(chunk.decode("utf-8"))
        elif field_no == 3:  # Record
            records.append(_parse_record(chunk))
        # field 2 (explicit hash key table) and unknown fields: skipped
    out: list[tuple[str, bytes]] = []
    for key_idx, payload in records:
        if key_idx >= len(keys):
            raise ValueError("partition key index out of range")
        out.append((keys[key_idx], payload))
    return out


def _parse_record(chunk: bytes) -> tuple[int, bytes]:
    key_idx = None
    payload = None
    i = 0
    while i < len(chunk):
        tag, i = _read_varint(chunk, i)
        field_no, wire_type = tag >> 3, tag & 7
        if wire_type == 0:
            val, i = _read_varint(chunk, i)
            if field_no == 1:
                key_idx = val
        elif wire_type == 2:
            ln, i = _read_varint(chunk, i)
            val_b, i = chunk[i : i + ln], i + ln
            if len(val_b) != ln:
                raise ValueError("truncated record field")
            if field_no == 3:
                payload = val_b
        else:
            raise ValueError(f"unexpected wire type {wire_type} in record")
    # both fields are REQUIRED by the KPL spec: defaulting a missing
    # one to (0, b"") would emit a bogus empty row under the wrong
    # partition key instead of routing the container down the corrupt-
    # record path (r6 review)
    if key_idx is None or payload is None:
        raise ValueError("KPL record missing required field")
    return key_idx, payload


# -- encode ------------------------------------------------------------


def aggregate(records: list[tuple[str, bytes]]) -> bytes:
    """Pack ``[(partition_key, payload), ...]`` into one KPL aggregate
    container — the producer-side batching face (and the test fixture
    builder). Keys are interned into the partition-key table exactly
    like the KPL does."""
    key_table: list[str] = []
    key_index: dict[str, int] = {}
    body = bytearray()
    rec_chunks = []
    for key, payload in records:
        if key not in key_index:
            key_index[key] = len(key_table)
            key_table.append(key)
        rec = (
            _write_varint(1 << 3 | 0)
            + _write_varint(key_index[key])
            + _write_len_delimited(3, payload)
        )
        rec_chunks.append(rec)
    for key in key_table:
        body += _write_len_delimited(1, key.encode("utf-8"))
    for rec in rec_chunks:
        body += _write_len_delimited(3, rec)
    body_b = bytes(body)
    return KPL_MAGIC + body_b + hashlib.md5(body_b).digest()


#: byte budget per KPL container: the service rejects PutRecords
#: entries over 1 MiB (data + key), so flush well under it — the real
#: KPL's own ceiling; the margin covers protobuf framing, the key
#: table, magic and md5
KPL_MAX_CONTAINER_BYTES = 900_000


def pack_entries(entries, max_per_container: int = 100):
    """Producer-side KPL packing: group wire entries by partition key
    (sub-records of one container share the container's partition key,
    so per-key FIFO routing survives aggregation) and pack up to
    ``max_per_container`` records AND at most ``KPL_MAX_CONTAINER_BYTES``
    of payload per KPL blob — without the byte flush, 100 large
    records would aggregate past the service's 1 MiB per-record limit
    and the whole PutRecords call would ValidationException-fail
    forever (a poison batch Spark would retry endlessly; r6 review).
    Takes and returns ``PutRecordsEntry``s, whose data is bytes — pass
    the result to ``put_chunked`` with the ``KinesisPublisher``
    transport. This is how a producer beats the 1,000
    records/s/shard service limit: N user records cost one service
    record. Consumers (the engine's ``kinesis_aws`` source, or any
    KCL app) unpack transparently."""
    from watermill_kinesis_spark.streaming.sink import PutRecordsEntry

    by_key: dict[str, list] = {}
    for e in entries:
        key = e.partition_key or "0"
        by_key.setdefault(key, []).append((key, e.data))
    packed = []
    for key, recs in by_key.items():
        group: list = []
        group_bytes = 0
        for rec in recs:
            rec_cost = len(rec[1]) + 16  # payload + framing margin
            if rec_cost > KPL_MAX_CONTAINER_BYTES:
                # an unsplittable single record over the budget would
                # otherwise ship as one oversized container — exactly
                # the forever-failing PutRecords poison entry the byte
                # budget exists to prevent (r6 ADVICE). Fail loudly at
                # pack time; the caller owns splitting or rejecting.
                raise ValueError(
                    f"record of {len(rec[1])} bytes exceeds the "
                    f"{KPL_MAX_CONTAINER_BYTES}-byte KPL container "
                    "budget and cannot be aggregated; split the payload "
                    "or publish it unaggregated"
                )
            if group and (
                len(group) >= max_per_container
                or group_bytes + rec_cost > KPL_MAX_CONTAINER_BYTES
            ):
                packed.append(PutRecordsEntry(aggregate(group), key))
                group, group_bytes = [], 0
            group.append(rec)
            group_bytes += rec_cost
        if group:
            packed.append(PutRecordsEntry(aggregate(group), key))
    return packed
