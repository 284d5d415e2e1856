"""Message-layer operators: the reference's codec semantics as queries.

The batch stand-in for a Kinesis stream is the ``events`` table
(TESTDATA.md): ``event_id`` plays the message UUID, ``props`` (a JSON
string) the payload, ``user_id`` the partition key — mirroring the
reference example where the user sets ``partitionKey`` before publish
(reference example/cmd/publish/main.go:25-26).

Operators covered (SURVEY.md §2-A): #2 JSONMarshaller, #3
JSONUnmarshaller, #4 corrupt-record skip, #11 partition-key routing
(batch view).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from watermill_kinesis_spark import codec
from watermill_kinesis_spark.registry import query
from watermill_kinesis_spark.schema import META_PARTITION_KEY
from watermill_kinesis_spark.sources.tables import load_table

#: Deterministic payload padding: every gate payload must exceed 57
#: bytes so the oracle-checked envelope queries permanently cover the
#: base64 MIME-wrap boundary (Spark's base64() line-wraps output for
#: inputs ≥58 B; an earlier build shipped wrapped envelopes that broke
#: Go StdEncoding interop — see codec._b64_unwrapped).
_PAYLOAD_PAD = 56

#: DuckDB fragment producing byte-identical envelopes to ``codec.marshal``
#: over the same message construction (verified bit-equal incl. JSON
#: escaping and base64).
_ORACLE_ENV = f"""
    to_json(struct_pack(
        watermill_message_uuid := CAST(event_id AS VARCHAR),
        data := to_base64(encode(props || repeat('#', {_PAYLOAD_PAD}))),
        headers := MAP(['partitionKey','eventType'],
                       [CAST(user_id AS VARCHAR), event_type])
    ))::VARCHAR
""".strip()


def messages_from_events(
    spark: SparkSession, sf_dir: str, fanout: bool = False
) -> DataFrame:
    """events → canonical messages (uuid, payload, metadata).

    ``fanout=True`` repartitions the events BEFORE the message
    projection (optimization round 14, guide §2): events.parquet is a
    single row group, so a codec-heavy consumer (JSON envelope
    marshal/unmarshal, base64, binary framing — all whole-stage
    codegen but 4-5 CPU-seconds over 100k rows at sf0.1) otherwise
    runs its entire chain inside ONE scan task (corrupt_skip profiled
    5.4 s serial). Raw event bytes shuffle once; the geometry clamp
    keeps tiny inputs at a few partitions and a real stream at full
    cluster width. Aggregate-only consumers keep the default — their
    per-row work is light and the scan's partial aggregate needs no
    exchange."""
    ev = load_table(spark, sf_dir, "events")
    if fanout:
        from watermill_kinesis_spark.sources.tables import adaptive_partitions

        ev = ev.repartition(
            adaptive_partitions(spark, sf_dir, "events", expand=10),
            "event_id",
        )
    return ev.select(
        F.col("event_id").cast("string").alias("uuid"),
        F.concat(F.col("props"), F.repeat(F.lit("#"), _PAYLOAD_PAD))
        .cast("binary")
        .alias("payload"),
        F.create_map(
            F.lit(META_PARTITION_KEY),
            F.col("user_id").cast("string"),
            F.lit("eventType"),
            F.col("event_type"),
        ).alias("metadata"),
        F.col("event_id"),
        F.col("event_type"),
    )


@query(
    "envelope_encode",
    oracle=f"""
    SELECT event_id,
           CAST(user_id AS VARCHAR) AS partition_key,
           {_ORACLE_ENV} AS data
    FROM events
    """,
    tags=("codec", "layer-a"),
)
def envelope_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marshal messages into the wire envelope (reference marshaller.go:52-71)."""
    msgs = messages_from_events(spark, sf_dir, fanout=True)
    return msgs.select(
        "event_id",
        F.col("metadata").getItem(META_PARTITION_KEY).alias("partition_key"),
        codec.envelope_json(
            F.col("uuid"), F.col("payload"), F.col("metadata")
        ).alias("data"),
    )


@query(
    "envelope_decode",
    oracle=f"""
    WITH enc AS (SELECT {_ORACLE_ENV} AS env FROM events)
    SELECT CAST(json_extract_string(env, '$.watermill_message_uuid') AS BIGINT) AS event_id,
           decode(from_base64(json_extract_string(env, '$.data'))) AS payload_text,
           json_extract_string(env, '$.headers.partitionKey') AS partition_key,
           json_extract_string(env, '$.headers.eventType') AS event_type
    FROM enc
    """,
    tags=("codec", "layer-a"),
)
def envelope_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip: marshal → unmarshal (reference marshaller.go:28-50)."""
    msgs = messages_from_events(spark, sf_dir, fanout=True)
    wire = codec.marshal(msgs)
    decoded = codec.unmarshal(wire, partition_key_col=None)
    return decoded.select(
        F.col("uuid").cast("bigint").alias("event_id"),
        F.col("payload").cast("string").alias("payload_text"),
        F.col("metadata").getItem(META_PARTITION_KEY).alias("partition_key"),
        F.col("metadata").getItem("eventType").alias("event_type"),
    )


@query(
    "corrupt_skip",
    oracle="""
    SELECT event_type, COUNT(*) AS n_ok
    FROM events
    WHERE event_id % 97 <> 0
    GROUP BY event_type
    """,
    tags=("codec", "layer-a"),
)
def corrupt_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poison records are skipped, not fatal (reference subscriber.go:54-59).

    Every 97th envelope is mangled into invalid JSON; the decode path
    (``unmarshal(drop_corrupt=True)``) must drop it.
    """
    msgs = messages_from_events(spark, sf_dir, fanout=True)
    wire = msgs.select(
        "event_id",
        codec.envelope_json(F.col("uuid"), F.col("payload"), F.col("metadata")).alias(
            "data"
        ),
    ).withColumn(
        "data",
        F.when(F.col("event_id") % 97 == 0, F.concat(F.lit("{broken"), F.col("data")))
        .otherwise(F.col("data")),
    )
    # Marshal and unmarshal share this plan. unmarshal parses behind its
    # own optimizer barrier, so its corrupt filter reads the parsed
    # struct and the marshal tree still runs once per row, above the
    # fan-out exchange.
    decoded = codec.unmarshal(wire, partition_key_col=None, drop_corrupt=True)
    return (
        decoded.select(F.col("metadata").getItem("eventType").alias("event_type"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_ok"))
    )


@query(
    "envelope_binary_roundtrip",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(strlen(props) + 56) AS BIGINT) AS sum_payload_bytes,
           CAST(SUM(strlen(CAST(event_id AS VARCHAR))) AS BIGINT) AS sum_uuid_chars,
           0 AS n_mismatch
    FROM events
    GROUP BY event_type
    """,
    tags=("codec", "layer-a", "binary"),
)
def envelope_binary_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compact binary codec (the reference's planned-but-absent
    second marshaller, marshaller.go:24 TODO) round-tripped:
    messages → length-prefixed binary → messages. ``n_mismatch`` counts
    rows where any decoded field differs from the original — the
    oracle pins it to zero, and pins payload/uuid byte totals straight
    from the source table, so the binary transport is proven lossless
    without the oracle having to model the byte layout."""
    msgs = messages_from_events(spark, sf_dir, fanout=True).select(
        "uuid", "payload", "metadata", "event_type"
    )
    wire = codec.marshal_binary(msgs)
    # optimizer barrier (the corrupt_skip rationale): the roundtrip
    # join's inferred isnotnull(b.uuid) predicate otherwise inlines the
    # encode+decode tree and sinks below the fan-out exchange —
    # profiled 0.95 s serial in the scan task. shuffle() on a
    # 1-element array is a non-deterministic identity, so the wire
    # bytes are unchanged and the codec runs once, post-exchange.
    wire = wire.withColumn(
        "data", F.element_at(F.shuffle(F.array("data")), 1)
    )
    back = codec.unmarshal_binary(wire)
    joined = msgs.alias("a").join(
        back.alias("b"), F.col("a.uuid") == F.col("b.uuid"), "inner"
    )
    mismatch = (
        (F.col("a.payload") != F.col("b.payload"))
        | F.col("b.payload").isNull()
        | (
            F.col("a.metadata").getItem(META_PARTITION_KEY)
            != F.col("b.metadata").getItem(META_PARTITION_KEY)
        )
        | (
            F.col("a.metadata").getItem("eventType")
            != F.col("b.metadata").getItem("eventType")
        )
    )
    return joined.groupBy(F.col("a.event_type").alias("event_type")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.octet_length(F.col("a.payload"))).cast("bigint").alias(
            "sum_payload_bytes"
        ),
        F.sum(F.length(F.col("a.uuid"))).cast("bigint").alias("sum_uuid_chars"),
        F.count(F.when(mismatch, 1)).cast("int").alias("n_mismatch"),
    )


@query(
    "partition_key_group",
    oracle="""
    SELECT CAST(user_id AS VARCHAR) AS partition_key,
           COUNT(*) AS n_messages,
           COUNT(DISTINCT event_type) AS n_event_types
    FROM events
    GROUP BY CAST(user_id AS VARCHAR)
    """,
    tags=("routing", "layer-a"),
)
def partition_key_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch view of partition-key routing (reference marshaller.go:65-69):
    same key ⇒ same shard; here, group messages by their routing key."""
    msgs = messages_from_events(spark, sf_dir)
    return (
        msgs.groupBy(
            F.col("metadata").getItem(META_PARTITION_KEY).alias("partition_key")
        )
        .agg(
            F.count(F.lit(1)).alias("n_messages"),
            F.countDistinct(F.col("metadata").getItem("eventType")).alias(
                "n_event_types"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Protobuf envelope codec — closes the reference's own TODO
# (marshaller.go:24 "TODO Protobuf un/marshaller"; no .proto was ever
# defined there, so protocodec.py defines the obvious Envelope message
# for MessageData{UUID, Metadata, Payload})

#: proto3 wire-size constants for the audit's first-principles math
#: (single-byte tags throughout — field numbers ≤ 3):
#: uuid field = 1 tag + 1 len + 32 md5-hex chars
_PROTO_UUID_BYTES = 34
#: a map<string,string> entry is a nested {key=1,value=2} message in a
#: length-delimited field: 1 outer tag + 1 outer len + (1+1+len(key))
#: + (1+1+len(value)) ⇒ 6 + len(key) + len(value)
_PROTO_ENTRY_OVERHEAD = 6

#: payload field size: omitted entirely when empty (proto3 default
#: elision), else 1 tag + varint(len) + len — the SAME arithmetic is
#: evaluated per-row engine-side and summed independently oracle-side;
#: the UTF-8 byte-length spelling differs (DuckDB's octet_length takes
#: BLOB only), so the template is parameterized on it
_PROTO_PAYLOAD_SQL_T = """
    CASE WHEN {L} = 0 THEN 0
         WHEN {L} < 128 THEN 2 + {L}
         WHEN {L} < 16384 THEN 3 + {L}
         ELSE 4 + {L} END
"""
_PROTO_PAYLOAD_SQL = _PROTO_PAYLOAD_SQL_T.format(L="octet_length(text)")
_PROTO_PAYLOAD_ORACLE = _PROTO_PAYLOAD_SQL_T.format(
    L="octet_length(encode(text))"
)


@query(
    "envelope_proto_roundtrip",
    oracle=f"""
    WITH d AS (
        SELECT md5(CAST(doc_id AS VARCHAR)) AS uuid, lang, source, text
        FROM documents WHERE text IS NOT NULL),
    sz AS (
        SELECT {_PROTO_UUID_BYTES}
               + {_PROTO_ENTRY_OVERHEAD} + 4 + octet_length(encode(lang))
               + {_PROTO_ENTRY_OVERHEAD} + 6 + octet_length(encode(source))
               + {_PROTO_PAYLOAD_ORACLE} AS wire_bytes
        FROM d)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_msgs,
           CAST(COALESCE(SUM(wire_bytes), 0) AS BIGINT) AS total_wire_bytes,
           1 AS all_roundtrip,
           1 AS all_wire_len_exact
    FROM sz
    """,
    tags=("codec", "layer-a", "audit"),
)
def envelope_proto_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Protobuf envelope codec audit — the reference's unshipped
    marshaller (marshaller.go:24 TODO) implemented and spec-pinned:
    every document becomes an Envelope{uuid=md5(doc_id),
    metadata={lang, source}, payload=utf8(text)}, is serialized with
    ``protocodec.encode_envelope`` (deterministic=True ⇒ key-sorted
    map entries, reproducible bytes), parsed back, and field-compared.
    The oracle recomputes the TOTAL wire size from the proto3 spec
    alone — tag/len/varint arithmetic over octet lengths, never
    touching the runtime — so a codec that silently mis-sizes varints,
    emits default-valued fields, or double-encodes UTF-8 hash-fails.
    The per-row ``all_wire_len_exact`` verdict compares each actual
    wire length against the same arithmetic ENGINE-side, so a data
    shape outside the audit's assumptions (e.g. an empty metadata
    value, whose entry would elide the value field) fails loudly
    rather than silently agreeing with the oracle.

    Plan: one Arrow-batched pandas-UDF map pass over the corpus (the
    vendored pure-python protobuf runtime ships to workers as a zip
    via ``ensure_protobuf_on_workers`` — a bare path-append is NOT
    enough there: the worker resolves ``google`` as a namespace
    package whose ``protobuf`` child has no submodules), then a
    single scalar aggregate. Zero shuffle."""
    from pyspark.sql.functions import pandas_udf

    from watermill_kinesis_spark.streaming.pbcompat import (
        ensure_protobuf_on_workers,
    )

    if not ensure_protobuf_on_workers(spark):  # pragma: no cover
        raise ImportError("no protobuf runtime available for workers")

    @pandas_udf("binary")
    def enc(
        uuid: pd.Series, lang: pd.Series, source: pd.Series, payload: pd.Series
    ) -> pd.Series:
        from watermill_kinesis_spark.protocodec import encode_envelope

        # NULL lang/source coerce to '' (proto3 maps reject None)
        # instead of crashing the audit job: the per-row length verdict
        # then goes NULL on such rows (octet_length(NULL)), n_len_ok
        # undercounts, and all_wire_len_exact flips to 0 against the
        # oracle's pinned 1 — the loud failure the docstring promises,
        # not a driver-gate crash
        return pd.Series(
            [
                encode_envelope(
                    u,
                    {
                        "lang": l if l is not None else "",
                        "source": s if s is not None else "",
                    },
                    bytes(p),
                )
                for u, l, s, p in zip(uuid, lang, source, payload)
            ],
            dtype=object,
        )

    @pandas_udf(
        "uuid string, lang string, source string, payload binary, n_meta int"
    )
    def dec(wire: pd.Series) -> pd.DataFrame:
        from watermill_kinesis_spark.protocodec import decode_envelope

        rows = []
        for w in wire:
            u, md, p = decode_envelope(w)
            rows.append(
                (u, md.get("lang"), md.get("source"), p, len(md))
            )
        return pd.DataFrame(
            rows, columns=["uuid", "lang", "source", "payload", "n_meta"]
        )

    from watermill_kinesis_spark.sources.tables import adaptive_partitions

    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        # repartition before the encode/decode UDF chain: the whole
        # python roundtrip otherwise runs inside the single-split scan
        # task (profiled ~0.9 s serial at sf0.1); text bytes shuffle
        # once, the codec work then uses every core. Geometry-derived
        # count (optimization round 14, VERDICT r13 task 1): the flat
        # core-count fan-out made this the worst scaling entry
        # in the driver's 8-vs-32-core data (1.21 s at 32c vs 0.45 s
        # at 8c — 32 Python-runner fixed costs × 2 codec stages for
        # ~6 MB of work). expand=7 centers the measured sweep optimum
        # (tools/tune_fanout.py best-of-4 at sf0.1: 4→0.511 s,
        # 8→0.503, 16→0.550, 32→0.583); ∝-bytes scaling still reaches
        # full cluster parallelism on a real corpus via the clamp
        .repartition(
            adaptive_partitions(spark, sf_dir, "documents", expand=7),
            "doc_id",
        )
        .select(
            F.md5(F.col("doc_id").cast("string")).alias("uuid"),
            "lang",
            "source",
            F.encode("text", "UTF-8").alias("payload"),
            F.expr(_PROTO_PAYLOAD_SQL).alias("payload_field_bytes"),
        )
    )
    back = d.withColumn(
        "wire", enc("uuid", "lang", "source", "payload")
    ).withColumn("back", dec("wire"))
    expected_len = (
        F.lit(_PROTO_UUID_BYTES)
        + F.lit(_PROTO_ENTRY_OVERHEAD + 4)
        + F.octet_length("lang")
        + F.lit(_PROTO_ENTRY_OVERHEAD + 6)
        + F.octet_length("source")
        + F.col("payload_field_bytes")
    )
    rt_ok = (
        F.col("back.uuid").eqNullSafe(F.col("uuid"))
        & F.col("back.lang").eqNullSafe(F.col("lang"))
        & F.col("back.source").eqNullSafe(F.col("source"))
        & F.col("back.payload").eqNullSafe(F.col("payload"))
        & (F.col("back.n_meta") == 2)
    )
    agg = back.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_msgs"),
        F.coalesce(
            F.sum(F.octet_length("wire")).cast("bigint"),
            F.lit(0).cast("bigint"),
        ).alias("total_wire_bytes"),
        F.sum(rt_ok.cast("long")).alias("n_rt"),
        F.sum((F.octet_length("wire") == expected_len).cast("long")).alias(
            "n_len_ok"
        ),
    )
    return agg.select(
        "n_msgs",
        "total_wire_bytes",
        # coalesce like total_wire_bytes: on an all-NULL-text corpus
        # the SUMs are NULL over zero rows and 0 == 0 must read as the
        # oracle's vacuous-true 1, not a NULL-verdict hash skew
        (F.coalesce(F.col("n_rt"), F.lit(0)) == F.col("n_msgs"))
        .cast("int")
        .alias("all_roundtrip"),
        (F.coalesce(F.col("n_len_ok"), F.lit(0)) == F.col("n_msgs"))
        .cast("int")
        .alias("all_wire_len_exact"),
    )
