"""Wire-interop golden tests against the reference's own envelope
format.

The reference hand-builds envelope records in example/functions.sh:18
(`{"watermill_message_uuid":"<uuid>", "data":<base64>}`) and its Go
marshaller emits `base64.StdEncoding` payloads (marshaller.go:57) —
strict RFC 4648, NO line wrapping. These tests lock two contracts:

1. **Decode interop**: byte-identical envelopes a Go producer would
   publish (incl. payloads >57 bytes, past Spark's base64 MIME-wrap
   boundary) unmarshal losslessly.
2. **Encode interop**: re-marshalling produces byte-identical
   Go-StdEncoding output — in particular the base64 contains no CR/LF,
   so a Go `base64.StdEncoding.DecodeString` consumer never errors.

Plus legacy tolerance: envelopes published by an earlier build of THIS
engine (MIME-wrapped base64) still decode and are not misclassified as
corrupt.
"""

from __future__ import annotations

import base64
import json

from pyspark.sql import Row, functions as F

from watermill_kinesis_spark import codec

# (uuid, payload, headers) — payload sizes straddle the 57/58-byte MIME
# wrap boundary; 100 B and 200 B cover multi-line wraps.
GOLDEN_MESSAGES = [
    ("g-empty", b"", {"partitionKey": "pk0"}),
    ("g-short", b"hello world!", {"partitionKey": "pk1", "h": "v"}),
    ("g-57", bytes(range(57)), {"partitionKey": "pk2"}),
    ("g-58", bytes(range(58)), {"partitionKey": "pk3"}),
    ("g-100", bytes((i * 7) % 256 for i in range(100)), {"partitionKey": "pk4"}),
    ("g-200", b"\x00" * 200, {"partitionKey": "pk5", "zz": "y"}),
]


def _go_envelope(uuid: str, payload: bytes, headers: dict[str, str]) -> str:
    """Byte-identical to the reference Go marshaller's output
    (marshaller.go:52-60): json.Marshal of MessageData with
    StdEncoding base64 — compact separators, field order
    uuid/data/headers."""
    return json.dumps(
        {
            "watermill_message_uuid": uuid,
            "data": base64.b64encode(payload).decode("ascii"),
            "headers": headers,
        },
        separators=(",", ":"),
    )


def test_golden_go_envelopes_decode_losslessly(spark):
    wire = spark.createDataFrame(
        [Row(data=_go_envelope(u, p, h)) for u, p, h in GOLDEN_MESSAGES],
        "data string",
    )
    back = {
        r.uuid: (bytes(r.payload), dict(r.metadata))
        for r in codec.unmarshal(wire, partition_key_col=None).collect()
    }
    assert set(back) == {u for u, _, _ in GOLDEN_MESSAGES}
    for u, p, h in GOLDEN_MESSAGES:
        gp, gh = back[u]
        assert gp == p, f"payload mismatch for {u} ({len(p)} bytes)"
        assert gh == h


def test_remarshal_is_byte_identical_go_stdencoding(spark):
    """unmarshal → marshal reproduces the Go wire bytes exactly, and no
    emitted envelope contains CR/LF (Go StdEncoding strictness)."""
    wire = spark.createDataFrame(
        [Row(data=_go_envelope(u, p, h)) for u, p, h in GOLDEN_MESSAGES],
        "data string",
    )
    msgs = codec.unmarshal(wire, partition_key_col=None)
    out = {r.uuid: r.data for r in _remarshal_with_uuid(msgs).collect()}
    for u, p, h in GOLDEN_MESSAGES:
        expected = _go_envelope(u, p, h)
        assert out[u] == expected, f"wire bytes differ for {u}"
        assert "\r" not in out[u] and "\n" not in out[u]


def _remarshal_with_uuid(msgs):
    env = codec.envelope_json(
        F.col("uuid"), F.col("payload"), F.col("metadata")
    )
    return msgs.select(F.col("uuid"), env.alias("data"))


def test_legacy_mime_wrapped_envelopes_still_decode(spark):
    """Envelopes from an earlier build of this engine used Spark's MIME
    base64 (76-char lines joined by CRLF). They must decode — not be
    dropped as corrupt — and re-marshal to clean StdEncoding."""
    legacy_rows = []
    for u, p, h in GOLDEN_MESSAGES:
        b64 = base64.b64encode(p).decode("ascii")
        wrapped = "\r\n".join(b64[i : i + 76] for i in range(0, len(b64), 76)) or b64
        legacy_rows.append(
            Row(
                data=json.dumps(
                    {
                        "watermill_message_uuid": u,
                        "data": wrapped,
                        "headers": h,
                    },
                    separators=(",", ":"),
                )
            )
        )
    wire = spark.createDataFrame(legacy_rows, "data string")
    decoded = codec.unmarshal(wire, partition_key_col=None, drop_corrupt=True)
    back = {r.uuid: bytes(r.payload) for r in decoded.collect()}
    assert set(back) == {u for u, _, _ in GOLDEN_MESSAGES}  # none dropped
    for u, p, _ in GOLDEN_MESSAGES:
        assert back[u] == p
    remarshalled = _remarshal_with_uuid(decoded).collect()
    for r in remarshalled:
        assert "\r" not in r.data and "\n" not in r.data


def test_truly_corrupt_base64_still_rejected(spark):
    """Stripping CR/LF must not make the corrupt check vacuous: junk
    base64 (bad alphabet / bad padding shape) still nulls the row."""
    rows = [
        Row(data=json.dumps({"watermill_message_uuid": "bad1", "data": "!!notb64!!"})),
        Row(data=json.dumps({"watermill_message_uuid": "bad2", "data": "AAA=AAA="})),
        Row(data='{broken json'),
        Row(data=_go_envelope("ok", b"fine", {})),
    ]
    wire = spark.createDataFrame(rows, "data string")
    kept = codec.unmarshal(wire, partition_key_col=None, drop_corrupt=True).collect()
    assert [r.uuid for r in kept] == ["ok"]


def test_binary_codec_golden_byte_layout(spark):
    """Byte-layout lock for the compact binary envelope (the codec the
    reference planned at marshaller.go:24): any change to the length
    prefixes, null sentinel, or field order breaks stored data — this
    golden pins the exact bytes."""
    from pyspark.sql import Row

    from watermill_kinesis_spark.schema import MESSAGE_SCHEMA

    msgs = spark.createDataFrame(
        [
            ("u1", b"hi", {"partitionKey": "pk", "h": "v"}),
            ("u2", None, {"k": ""}),
        ],
        MESSAGE_SCHEMA,
    )
    got = {
        r.partition_key: bytes(r.data)
        for r in codec.marshal_binary(msgs).collect()
    }
    assert got["pk"] == (
        b"\x00\x00\x00\x02u1"            # [len][uuid]
        b"\x00\x00\x00\x02hi"            # [len][payload]
        b'\x00\x00\x00\x1d{"partitionKey":"pk","h":"v"}'
    )
    assert got[None] == (
        b"\x00\x00\x00\x02u2"
        b"\xff\xff\xff\xff"              # null-payload sentinel
        b'\x00\x00\x00\x08{"k":""}'
    )
    # and the decoder inverts the pinned bytes
    back = {
        r.uuid: (r.payload, dict(r.metadata))
        for r in codec.unmarshal_binary(
            spark.createDataFrame(
                [Row(data=v) for v in got.values()], "data binary"
            )
        ).collect()
    }
    assert bytes(back["u1"][0]) == b"hi" and back["u1"][1]["h"] == "v"
    assert back["u2"][0] is None and back["u2"][1] == {"k": ""}


def test_proto_sql_encoder_byte_parity_with_runtime(spark):
    """The r11 JVM-expression proto encoder (protocodec.
    encode_envelope_col — VERDICT r10 task 5) must emit byte-identical
    wire to the runtime's deterministic serializer on every edge the
    proto3 spec has: default-valued scalar fields elide, map-entry
    key/value fields always emit (even empty), entries sort by key
    (UTF-8 byte order == code-point order), varint lengths across the
    1/2/3-byte boundaries, NULL coercions (uuid→"", metadata→{},
    value→"", payload→b"")."""
    from watermill_kinesis_spark.protocodec import (
        decode_envelope,
        encode_envelope,
        encode_envelope_col,
    )

    cases = [
        ("u1", {"a": "b"}, b"payload"),
        ("", {}, b""),                    # all defaults: zero wire bytes
        ("x", {"": ""}, b""),             # empty entry still emits 12 04 0a 00 12 00
        ("x", {"k": ""}, b"p"),           # empty value: inner field still written
        ("x", {"": "v"}, b"p"),           # empty key: inner field still written
        ("ü", {"ℓ": "日本語", "zz": "ü"}, "ünïcode".encode()),
        ("y", {"b": "2", "a": "1", "c": "3"}, b"q"),  # key sort
        ("m", {"k": "v" * 127}, b"B" * 128),     # 1→2-byte varint boundary
        ("M", {"k": "v" * 16383}, b"B" * 16384),  # 2→3-byte varint boundary
        # r12 chr-string fast-path fence (k+v < 124 octets): the last
        # entry shape served by the chr path (inner_len = 127, the top
        # single-byte varint), the first shape past it (falls back to
        # the hex walk), and a mixed map where ONE long entry sends
        # the whole map down the fallback while short entries ride
        # along — all three must stay byte-identical to the runtime
        ("f", {"k": "v" * 122}, b"p"),            # k+v=123: chr path max
        ("g", {"k": "v" * 123}, b"p"),            # k+v=124: hex fallback
        ("h", {"aa": "s", "k": "v" * 150}, b"p"),  # mixed → whole-map fallback
    ]
    df = spark.createDataFrame(
        cases, "uuid string, metadata map<string,string>, payload binary"
    )
    got = df.select(
        encode_envelope_col(
            F.col("uuid"), F.col("metadata"), F.col("payload")
        ).alias("w")
    ).collect()
    for (u, m, p), r in zip(cases, got):
        ref = encode_envelope(u, m, p)
        assert bytes(r.w) == ref, f"wire divergence for uuid={u!r}"
        assert decode_envelope(bytes(r.w)) == (u, m, p)
    # NULL uuid/metadata/payload encode as '', {}, b'': the same wire as
    # encode_envelope('', {}, b'')
    nulls = spark.createDataFrame(
        [(None, None, None)],
        "uuid string, metadata map<string,string>, payload binary",
    )
    rw = nulls.select(
        encode_envelope_col(
            F.col("uuid"), F.col("metadata"), F.col("payload")
        ).alias("w")
    ).first()
    assert bytes(rw.w) == encode_envelope("", {}, b"")


def test_marshal_proto_matches_runtime_encoder_and_has_no_python_stage(spark):
    """marshal_proto's JVM-expression wire equals the protobuf runtime
    encoder (``encode_envelope``) applied to the collected rows, over a
    realistic message relation, and its plan contains NO Python stage."""
    from watermill_kinesis_spark.protocodec import encode_envelope, marshal_proto

    msgs = spark.createDataFrame(
        [
            ("u%d" % i, ("pay%d" % i).encode(), {"partitionKey": "pk%d" % (i % 3), "h": "v" * (i % 5)})
            for i in range(50)
        ],
        "uuid string, payload binary, metadata map<string,string>",
    )
    got = sorted(
        (bytes(r.data), r.partition_key)
        for r in marshal_proto(msgs).collect()
    )
    want = sorted(
        (encode_envelope(r.uuid, r.metadata, bytes(r.payload)), r.metadata["partitionKey"])
        for r in msgs.collect()
    )
    assert got == want
    plan = marshal_proto(msgs)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
