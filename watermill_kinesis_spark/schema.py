"""Canonical data model: the Message and its wire envelope.

Derived from the reference's Watermill ``message.Message``
(reference marshaller.go:47-49) and the ``MessageData`` JSON envelope
(reference marshaller.go:16-20):

    {"watermill_message_uuid": "<uuid>",
     "data": "<base64(payload)>",
     "headers": {"k": "v", ...}}

The row-oriented Go message becomes a DataFrame row; the dynamic
string→string metadata map becomes a ``MapType`` column.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Well-known metadata keys (reference marshaller.go:12-14).
META_PARTITION_KEY = "partitionKey"
META_SHARD_ID = "shardID"
META_ARRIVAL_TS = "approximateArrivalTimestamp"

# Envelope JSON field names (reference marshaller.go:16-20).
ENVELOPE_UUID_FIELD = "watermill_message_uuid"
ENVELOPE_DATA_FIELD = "data"
ENVELOPE_HEADERS_FIELD = "headers"

# Kinesis PutRecords hard limit per call (reference publisher.go:13).
MAX_RECORDS_PER_PUT = 500

#: Canonical in-engine message: one row per message.
MESSAGE_SCHEMA = T.StructType(
    [
        T.StructField("uuid", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), True),  # nullable: the reference test publishes nil payloads
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

#: Parsed wire envelope (what ``from_json`` produces from a record's data).
ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField(ENVELOPE_UUID_FIELD, T.StringType(), True),
        T.StructField(ENVELOPE_DATA_FIELD, T.StringType(), True),  # base64(payload)
        T.StructField(
            ENVELOPE_HEADERS_FIELD, T.MapType(T.StringType(), T.StringType()), True
        ),
    ]
)

#: A wire record as a Kinesis-like transport would hand it to us
#: (reference subscriber.go:49-60: Data + PartitionKey + SequenceNumber +
#: shard id + approximate arrival timestamp).
WIRE_RECORD_SCHEMA = T.StructType(
    [
        # the record's bytes as the service holds them; only a codec
        # (codec.py, protocodec.py) knows what they mean
        T.StructField("data", T.BinaryType(), True),
        T.StructField("partition_key", T.StringType(), True),
        T.StructField("sequence_number", T.StringType(), True),
        T.StructField("shard_id", T.StringType(), True),
        T.StructField("approximate_arrival_timestamp", T.TimestampType(), True),
    ]
)
