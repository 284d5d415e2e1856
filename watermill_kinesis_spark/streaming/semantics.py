"""Streaming semantics: watermarks, late-data policy, dedup, ordering.

The reference has no event-time notion — only the arrival timestamp
carried as a string (reference marshaller.go:40) — and achieves
at-least-once with unbounded immediate nack retries
(reference subscriber/subscriber.go:92-95, README.md:51-53). This
module supplies the semantics a Spark engine adds on top:

- ``with_event_time``       — promote a metadata/payload field to a real
                              event-time column
- ``drop_late``             — watermark: bound state, drop data later
                              than the allowed delay
- ``dedup_by_uuid``         — at-least-once → effective exactly-once
                              (``dropDuplicatesWithinWatermark`` keeps
                              state bounded; the reference would
                              redeliver duplicates to the app)

Window aggregations over messages use the expressions the batch layer
verifies against the oracle in operators/windows.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def with_event_time(
    messages: DataFrame,
    source: Column | str = "approximate_arrival_timestamp",
    out_col: str = "event_time",
) -> DataFrame:
    c = F.col(source) if isinstance(source, str) else source
    return messages.withColumn(out_col, c.cast("timestamp"))


def drop_late(
    messages: DataFrame, delay: str = "10 minutes", ts_col: str = "event_time"
) -> DataFrame:
    """Watermark the stream: events older than (max event time − delay)
    are dropped by stateful operators downstream, and state for closed
    windows is reclaimed — the property that makes unbounded streams
    runnable in bounded memory at 100 TB/day."""
    return messages.withWatermark(ts_col, delay)


def dedup_by_uuid(
    messages: DataFrame, delay: str = "10 minutes", ts_col: str = "event_time"
) -> DataFrame:
    """Effective exactly-once on top of at-least-once redelivery:
    drop messages whose uuid was already seen within the watermark
    horizon. The uuid is the reference's message identity
    (marshaller.go:47); bounded state via the watermark."""
    if messages.isStreaming:
        return messages.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
            ["uuid"]
        )
    return messages.dropDuplicates(["uuid"])

