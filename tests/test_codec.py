"""Codec semantics tests — the engine analogue of the reference's
round-trip contract (marshaller.go) and poison-record behavior
(subscriber.go:54-59)."""

import json

from pyspark.sql import Row, functions as F

from watermill_kinesis_spark import codec
from watermill_kinesis_spark.schema import (
    MESSAGE_SCHEMA,
    META_ARRIVAL_TS,
    META_PARTITION_KEY,
    META_SHARD_ID,
    WIRE_RECORD_SCHEMA,
)


def _messages(spark, rows):
    return spark.createDataFrame(rows, MESSAGE_SCHEMA)


def test_marshal_roundtrip(spark):
    msgs = _messages(
        spark,
        [
            ("u1", b"hello world", {"partitionKey": "pk1", "h1": "v1"}),
            ("u2", b"\x00\xffbin", {"partitionKey": "pk2"}),
            ("u3", None, {"partitionKey": "pk3"}),  # reference test publishes nil payloads
        ],
    )
    wire = codec.marshal(msgs)
    assert wire.columns == ["data", "partition_key"]
    back = codec.unmarshal(wire, partition_key_col=None).orderBy("uuid").collect()
    assert [r.uuid for r in back] == ["u1", "u2", "u3"]
    assert bytes(back[0].payload) == b"hello world"
    assert bytes(back[1].payload) == b"\x00\xffbin"
    assert back[0].metadata["h1"] == "v1"
    assert back[0].metadata[META_PARTITION_KEY] == "pk1"


def test_marshal_partition_key_extraction(spark):
    msgs = _messages(spark, [("u1", b"x", {"partitionKey": "pk9", "o": "y"})])
    row = codec.marshal(msgs).collect()[0]
    assert row.partition_key == "pk9"
    assert b'"watermill_message_uuid":"u1"' in row.data


def test_unmarshal_injects_system_metadata(spark):
    msgs = _messages(spark, [("u1", b"x", {"partitionKey": "stale", "h": "v"})])
    wire = codec.marshal(msgs).select(
        "data",
        F.lit("pk-fresh").alias("partition_key"),
        F.lit("seq-1").alias("sequence_number"),
        F.lit("shardId-000000000001").alias("shard_id"),
        F.to_timestamp(F.lit("2024-05-06 07:08:09")).alias(
            "approximate_arrival_timestamp"
        ),
    )
    m = codec.unmarshal(wire).collect()[0].metadata
    # system keys overwrite header keys (reference marshaller.go:35-40)
    assert m[META_PARTITION_KEY] == "pk-fresh"
    assert m[META_SHARD_ID] == "shardId-000000000001"
    assert m[META_ARRIVAL_TS] == "2024-05-06T07:08:09Z"
    assert m["h"] == "v"


def test_arrival_ts_rfc3339_is_utc_in_any_session_tz(spark):
    """The 'Z' suffix must be truthful: a TIMESTAMP (instant) column
    formats as UTC wall-clock even when the ambient session timezone is
    not UTC (the driver runs a vanilla session with the host's tz)."""
    msgs = _messages(spark, [("u1", b"x", {})])
    wire = codec.marshal(msgs).select(
        "data",
        F.to_timestamp(F.lit("2024-05-06 07:08:09")).alias(
            "approximate_arrival_timestamp"
        ),
    )
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        # the literal above was parsed under the prev (UTC) tz, so the
        # instant is 2024-05-06T07:08:09Z regardless of render tz
        wire = wire.localCheckpoint()  # pin the parsed instant
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        m = codec.unmarshal(wire).collect()[0].metadata
        assert m[META_ARRIVAL_TS] == "2024-05-06T07:08:09Z"
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_corrupt_records_skipped_not_fatal(spark):
    rows = [
        (b'{"watermill_message_uuid":"ok1","data":"aGk=","headers":{}}', None, None, None, None),
        (b"not json at all", None, None, None, None),
        # valid JSON but data fails base64 decode — the reference's
        # unmarshal errors on this too (marshaller.go:42-46) and
        # subscriber.go:54-59 skips it like any other poison record
        (b'{"watermill_message_uuid":"bad1","data":"!!!invalid-b64","headers":{}}', None, None, None, None),
        # nil payload (data absent) is NOT corrupt: uuid survives, payload NULL
        (b'{"watermill_message_uuid":"ok2","headers":{}}', None, None, None, None),
    ]
    wire = spark.createDataFrame(rows, WIRE_RECORD_SCHEMA)
    out = codec.unmarshal(wire, drop_corrupt=True).orderBy("uuid").collect()
    assert [r.uuid for r in out] == ["ok1", "ok2"]
    assert bytes(out[0].payload) == b"hi"
    assert out[1].payload is None


def test_split_corrupt_dead_letter(spark):
    rows = [
        (b'{"watermill_message_uuid":"ok1","data":"aGk=","headers":{}}', None, None, None, None),
        (b"garbage", None, None, None, None),
        (b'{"watermill_message_uuid":"bad1","data":"%%%not-b64","headers":{}}', None, None, None, None),
    ]
    wire = spark.createDataFrame(rows, WIRE_RECORD_SCHEMA)
    good, dead = codec.split_corrupt(wire)
    assert good.count() == 1
    assert dead.count() == 2
    assert {bytes(r.data) for r in dead.collect()} == {
        b"garbage",
        b'{"watermill_message_uuid":"bad1","data":"%%%not-b64","headers":{}}',
    }


def _envelope_rows(datas):
    """Wire rows ``u0, u1, ...`` whose envelope ``data`` fields are ``datas``."""
    return [
        (json.dumps({"watermill_message_uuid": f"u{i}", "data": d, "headers": {}}).encode(),)
        + (None,) * 4
        for i, d in enumerate(datas)
    ]


def test_crlf_inside_padding_decodes_instead_of_failing(spark):
    """Go's base64.StdEncoding ignores CR/LF anywhere, padding included,
    so ``"AA=\\r\\n="`` decodes to ``b"\\x00"``. The payload must be
    decoded from that same stripped text: decoding the raw text throws
    in the JVM, which failed the task instead of skipping a record."""
    datas = ["AA=\r\n=", "AB=\n=", "aG\r\nk=", "aGk="]
    wire = spark.createDataFrame(_envelope_rows(datas), WIRE_RECORD_SCHEMA)
    want = {"u0": b"\x00", "u1": b"\x00", "u2": b"hi", "u3": b"hi"}
    for drop in (True, False):
        out = codec.unmarshal(wire, drop_corrupt=drop).collect()
        assert {r.uuid: bytes(r.payload) for r in out} == want
    good, dead = codec.split_corrupt(wire)
    assert good.count() == 4 and dead.count() == 0


def test_trailing_unicode_line_separator_is_corrupt(spark):
    """Go's base64.StdEncoding ignores only CR and LF. A Java regex
    ``$`` also matches before a final U+0085, U+2028 or U+2029, which
    let such a record through the shape check; it is corrupt."""
    datas = ["aGk=\u0085", "aGk=\u2028", "aGk=\u2029", "aGk="]
    wire = spark.createDataFrame(_envelope_rows(datas), WIRE_RECORD_SCHEMA)
    out = codec.unmarshal(wire, drop_corrupt=True).collect()
    assert [(r.uuid, bytes(r.payload)) for r in out] == [("u3", b"hi")]


def _from_json_count(df):
    return df._jdf.queryExecution().optimizedPlan().toString().count("from_json(")


def test_each_decode_path_parses_the_envelope_once(spark):
    """Predicate pushdown copies a projected ``from_json`` into every
    field reference of the corrupt filter; the parse sits behind a
    barrier so each path's optimized plan holds exactly one."""
    wire = spark.createDataFrame(_envelope_rows(["aGk="]), WIRE_RECORD_SCHEMA)
    good, dead = codec.split_corrupt(wire)
    frames = {
        "unmarshal(drop_corrupt)": codec.unmarshal(wire, drop_corrupt=True),
        "unmarshal": codec.unmarshal(wire),
        "skip_corrupt(unmarshal)": codec.skip_corrupt(codec.unmarshal(wire)),
        "split_corrupt good": good,
        "split_corrupt dead": dead,
    }
    assert {k: _from_json_count(df) for k, df in frames.items()} == {
        k: 1 for k in frames
    }


def test_binary_envelope_roundtrip_and_layout(spark):
    """Length-prefixed binary codec (the reference's marshaller.go:24
    protobuf TODO, built): round-trip identity incl. null payload, and
    the exact byte layout of one known record."""
    msgs = _messages(
        spark,
        [
            Row(uuid="u1", payload=b"hi", metadata={"partitionKey": "k1"}),
            Row(uuid="u2", payload=None, metadata={"partitionKey": "k2"}),
            Row(uuid="u3", payload=b"", metadata={}),
        ],
    )
    wire = codec.marshal_binary(msgs)
    back = codec.unmarshal_binary(wire).orderBy("uuid").collect()
    assert [r.uuid for r in back] == ["u1", "u2", "u3"]
    assert bytes(back[0].payload) == b"hi"
    assert back[1].payload is None          # null payload survives
    assert bytes(back[2].payload) == b""    # empty ≠ null
    assert back[0].metadata == {"partitionKey": "k1"}
    assert back[2].metadata == {}
    # exact layout of u1: [len=2]["u1"][len=2]["hi"][len=N][meta json]
    raw = bytes(
        wire.where(F.col("partition_key") == "k1").collect()[0].data
    )
    meta_json = b'{"partitionKey":"k1"}'
    expected = (
        (2).to_bytes(4, "big") + b"u1"
        + (2).to_bytes(4, "big") + b"hi"
        + len(meta_json).to_bytes(4, "big") + meta_json
    )
    assert raw == expected
    # partition key rides beside the blob, as in the JSON codec
    assert {r.partition_key for r in wire.collect()} == {"k1", "k2", None}


def test_kpl_pack_flushes_on_byte_budget():
    """r6 review: without a byte-based flush, 100 large records
    aggregate past the service's 1 MiB per-record cap — a poison
    batch. Every packed container must stay under the budget and
    nothing may be lost or reordered within a key."""
    from watermill_kinesis_spark.streaming.kpl import (
        KPL_MAX_CONTAINER_BYTES,
        deaggregate,
        pack_entries,
    )
    from watermill_kinesis_spark.streaming.sink import PutRecordsEntry

    big = b"x" * 20_000
    entries = [PutRecordsEntry(big + str(i).encode(), "k") for i in range(100)]
    packed = pack_entries(entries)
    assert len(packed) > 1  # the old count-only packer made ONE 2MB blob
    out = []
    for p in packed:
        assert len(p.data) <= KPL_MAX_CONTAINER_BYTES + 20_000
        out.extend(payload for _, payload in deaggregate(p.data))
    assert out == [e.data for e in entries]  # lossless, order kept per key


def test_kpl_unsplittable_oversized_record_rejected():
    """r6 ADVICE: the byte budget only flushed BETWEEN records, so a
    single payload over the budget still shipped as one oversized
    container — the exact forever-failing PutRecords poison entry the
    budget prevents. Pack must refuse it loudly."""
    import pytest

    from watermill_kinesis_spark.streaming.kpl import (
        KPL_MAX_CONTAINER_BYTES,
        pack_entries,
    )
    from watermill_kinesis_spark.streaming.sink import PutRecordsEntry

    giant = PutRecordsEntry(b"x" * (KPL_MAX_CONTAINER_BYTES + 1), "k")
    with pytest.raises(ValueError, match="budget"):
        pack_entries([PutRecordsEntry(b"ok", "k"), giant])


def test_kpl_record_missing_required_field_raises():
    """r6 review: a checksum-valid container whose Record omits a
    required field must go down the corrupt path, not emit a bogus
    empty row under key index 0."""
    import hashlib

    import pytest

    from watermill_kinesis_spark.streaming.kpl import (
        KPL_MAGIC,
        _write_len_delimited,
        deaggregate,
    )

    # container: key table entry + one record holding ONLY field 1
    rec = b"\x08\x00"  # field 1 varint 0, no field-3 data
    body = _write_len_delimited(1, b"k") + _write_len_delimited(3, rec)
    blob = KPL_MAGIC + body + hashlib.md5(body).digest()
    with pytest.raises(ValueError, match="required"):
        deaggregate(blob)
