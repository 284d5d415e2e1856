"""Each step of the message layer exists once: the package builds a
boto3 client only in ``sources/kinesis_aws._make_client``, the
builder API (``api.py``) publishes through the sink's put loop rather
than a ``foreachPartition`` of its own, and record bytes sit in the
wire ``data`` column in one form: BINARY, carried untouched by every
transport, read as text only by the codecs.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import types as T

from watermill_kinesis_spark import codec
from watermill_kinesis_spark.protocodec import marshal_proto, unmarshal_proto
from watermill_kinesis_spark.schema import MESSAGE_SCHEMA, WIRE_RECORD_SCHEMA
from watermill_kinesis_spark.sources import kinesis_aws
from watermill_kinesis_spark.streaming.sink import DirectoryPublisher, put_wire
from watermill_kinesis_spark.streaming.source import read_topic

PACKAGE = Path(__file__).resolve().parents[1] / "watermill_kinesis_spark"
CLIENT_BUILDER = ("kinesis_aws.py", "_make_client")
#: the transport modules, which move record bytes without reading them
TRANSPORTS = ("streaming/sink.py", "streaming/source.py", "sources/kinesis_aws.py")


def _violations(path: Path) -> list[str]:
    out = []

    def visit(node: ast.AST, func: str | None) -> None:
        where = f"{path.name}:{getattr(node, 'lineno', '?')}"
        if isinstance(node, ast.Attribute) and node.attr == "foreachPartition":
            if path.name == "api.py":
                out.append(f"{where} foreachPartition")
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "client"
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "boto3"
            and (path.name, func) != CLIENT_BUILDER
        ):
            out.append(f"{where} boto3.client(")
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(ast.parse(path.read_text()), None)
    return out


def test_one_client_builder_and_one_put_loop():
    files = sorted(PACKAGE.rglob("*.py"))
    assert any(p.name == "kinesis_aws.py" for p in files)
    found = [v for p in files for v in _violations(p)]
    assert not found, "\n".join(found)


def test_guard_catches_each_forbidden_form(tmp_path):
    api = tmp_path / "api.py"
    api.write_text(
        "import boto3\n"
        "def publish(wire):\n"
        "    wire.foreachPartition(print)\n"
        "    return boto3.client('kinesis')\n"
    )
    assert len(_violations(api)) == 2
    other = tmp_path / "kinesis_aws.py"
    other.write_text(
        "import boto3\n"
        "def _make_client(options):\n"
        "    return boto3.client('kinesis')\n"
        "def _other_client():\n"
        "    return boto3.client('kinesis')\n"
    )
    assert _violations(other) == ["kinesis_aws.py:5 boto3.client("]


def _byte_form_violations(path: Path) -> list[str]:
    """Text/bytes conversions of record data a transport must not make:
    a latin-1 mapping, a ``data_encoding`` marker, a lossy decode."""
    out = []
    for node in ast.walk(ast.parse(path.read_text())):
        where = f"{path.name}:{getattr(node, 'lineno', '?')}"
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node.value.lower() in ("iso-8859-1", "latin-1", "latin1"):
                out.append(f"{where} {node.value!r}")
            elif node.value == "data_encoding":
                out.append(f"{where} data_encoding")
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "decode"
            and any(
                isinstance(a, ast.Constant) and a.value == "replace"
                for a in [*node.args[1:], *(k.value for k in node.keywords if k.arg == "errors")]
            )
        ):
            out.append(f"{where} .decode(errors='replace')")
    return out


def test_transports_carry_record_bytes_untouched():
    assert WIRE_RECORD_SCHEMA["data"].dataType == T.BinaryType()
    found = [v for rel in TRANSPORTS for v in _byte_form_violations(PACKAGE / rel)]
    assert not found, "\n".join(found)


def test_byte_form_guard_catches_each_forbidden_form(tmp_path):
    planted = tmp_path / "sink.py"
    planted.write_text(
        "from pyspark.sql import functions as F\n"
        "def put(e, raw):\n"
        "    a = F.decode(F.col('data'), 'ISO-8859-1')\n"
        "    b = raw.decode('latin-1')\n"
        "    c = {'data': e.data, 'data_encoding': 'base64'}\n"
        "    d = raw.decode('utf-8', errors='replace')\n"
        "    e = raw.decode('utf-8', 'replace')\n"
        "    return raw.decode('utf-8')\n"
    )
    assert sorted(v.split()[0] for v in _byte_form_violations(planted)) == [
        f"sink.py:{n}" for n in (3, 4, 5, 6, 7)
    ]


#: message payloads no text form of the wire carries intact
PAYLOADS = [
    bytes(range(256)),
    b"\x00\xff\xfe",
    "h\u00e9llo w\u00f6rld \u2713".encode(),
    b"",
]
CODECS = {
    "json": (codec.marshal, lambda w: codec.unmarshal(w, drop_corrupt=True)),
    "binary": (codec.marshal_binary, codec.unmarshal_binary),
    "proto": (marshal_proto, lambda w: unmarshal_proto(w, drop_corrupt=True)),
}


def _published(spark, transport: str, wire, tmp_path):
    """``wire`` put through ``transport``, then read back as wire rows."""
    if transport == "directory":
        topic = str(tmp_path / "topic")
        put_wire(wire, lambda: DirectoryPublisher(topic, n_shards=2))
        return read_topic(spark.read, topic)
    kinesis_aws.register(spark)

    def stream(io):
        return (
            io.format(kinesis_aws.FORMAT_NAME)
            .option("streamName", "bytes")
            .option(
                "clientfactory",
                "watermill_kinesis_spark.sources.kinesis_stub:file_stub_client",
            )
            .option("stubdir", str(tmp_path / "stub"))
        )

    stream(wire.write).mode("append").save()
    return stream(spark.read).load()


@pytest.mark.parametrize("transport", ["directory", "kinesis_aws"])
@pytest.mark.parametrize("name", sorted(CODECS))
def test_every_codec_round_trips_over_every_transport(spark, tmp_path, name, transport):
    marshal, unmarshal = CODECS[name]
    sent = {
        f"u{i}": (p, {"partitionKey": f"k{i}", "h": f"v\u00e4lue-{i}"})
        for i, p in enumerate(PAYLOADS)
    }
    msgs = spark.createDataFrame(
        [(u, p, md) for u, (p, md) in sent.items()], MESSAGE_SCHEMA
    )
    back = unmarshal(_published(spark, transport, marshal(msgs), tmp_path)).collect()
    assert sorted(r.uuid for r in back) == sorted(sent)
    for r in back:
        payload, headers = sent[r.uuid]
        assert bytes(r.payload) == payload
        assert {k: r.metadata.get(k) for k in headers} == headers


@pytest.mark.parametrize("transport", ["directory", "kinesis_aws"])
def test_invalid_utf8_in_an_envelope_reads_as_replacement_chars(spark, tmp_path, transport):
    """The JSON codec reads the envelope bytes as UTF-8 with U+FFFD for
    each invalid sequence, in a header value and in the uuid alike."""
    envs = {
        b'{"watermill_message_uuid":"u1","data":"aGk=","headers":{"h":"a\xff\xfeb"}}': (
            "u1",
            "a\ufffd\ufffdb",
        ),
        b'{"watermill_message_uuid":"u\xc3(","data":"aGk=","headers":{"h":"\xe2\x82"}}': (
            "u\ufffd(",
            "\ufffd",
        ),
    }
    wire = spark.createDataFrame([(e, "k") for e in envs], "data binary, partition_key string")
    back = codec.unmarshal(_published(spark, transport, wire, tmp_path), drop_corrupt=True)
    assert sorted((r.uuid, r.metadata["h"], bytes(r.payload)) for r in back.collect()) == sorted(
        (u, h, b"hi") for u, h in envs.values()
    )
