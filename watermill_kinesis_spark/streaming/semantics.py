"""Streaming semantics: dedup of redelivered messages within the watermark.

The reference has no event-time notion — only the arrival timestamp
carried as a string (reference marshaller.go:40) — and achieves
at-least-once with unbounded immediate nack retries
(reference subscriber/subscriber.go:92-95, README.md:51-53). This
module supplies the semantics a Spark engine adds on top:

- ``dedup_by_uuid``         — at-least-once → effective exactly-once
                              (``dropDuplicatesWithinWatermark`` keeps
                              state bounded; the reference would
                              redeliver duplicates to the app)

Window aggregations over messages use the expressions the batch layer
verifies against the oracle in operators/windows.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


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

