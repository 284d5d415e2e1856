"""Custom stateful streaming operator: per-partition-key delivery
accounting via ``applyInPandasWithState``.

This is the engine's answer to "operator Spark lacks" — arbitrary
per-key state on an unbounded stream. The reference keeps exactly one
piece of per-shard state (the last checkpointed sequence number,
reference subscriber.go:65-75); this operator generalizes that to
user-defined per-key state with the same crash-safety: state lives in
the checkpoint, so a restarted query resumes counting where it left
off, rather than restarting from zero.

Semantics: for every partition key, maintain (n_messages, n_bytes,
first_seen, last_seen) across ALL micro-batches; emit the updated
accounting row for each key touched in a batch. State is keyed per
partition key and updated with numpy-level batch arithmetic — the
Python boundary sees Arrow batches, never single rows.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, GroupedData
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

STATE_SCHEMA = StructType(
    [
        StructField("n_messages", LongType()),
        StructField("n_bytes", LongType()),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("partition_key", StringType()),
        StructField("n_messages", LongType()),
        StructField("n_bytes", LongType()),
        StructField("batch_messages", LongType()),
    ]
)


def _fold(pdfs: Iterable[pd.DataFrame], prior: tuple) -> tuple[int, int, int]:
    """One key's batch folded onto its prior ``(n_messages, n_bytes)``
    (``(0, 0)`` for a new key) → ``(n_messages, n_bytes, batch_messages)``."""
    batch_n = 0
    batch_bytes = 0
    for pdf in pdfs:
        batch_n += len(pdf)
        batch_bytes += int(pdf["n_bytes"].sum())
    return int(prior[0]) + batch_n, int(prior[1]) + batch_bytes, batch_n


def _keyed(messages: DataFrame) -> GroupedData:
    """``(partition_key, n_bytes)`` per message, grouped by key: the
    input every accounting face folds."""
    from pyspark.sql import functions as F

    return messages.select(
        F.col("metadata").getItem("partitionKey").alias("partition_key"),
        F.octet_length("payload").cast("long").alias("n_bytes"),
    ).groupBy("partition_key")


def _account(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold this batch's rows for one key into persistent state and emit
    the updated totals."""
    n_messages, n_bytes, batch_n = _fold(pdfs, state.get if state.exists else (0, 0))
    state.update((n_messages, n_bytes))
    yield pd.DataFrame(
        {
            "partition_key": [key[0]],
            "n_messages": [n_messages],
            "n_bytes": [n_bytes],
            "batch_messages": [batch_n],
        }
    )


def key_accounting(messages: DataFrame) -> DataFrame:
    """Streaming per-key accounting: input is the canonical message
    stream; output one row per (key, batch) with cumulative totals.
    State is checkpointed with the query — restart-safe by
    construction."""
    return _keyed(messages).applyInPandasWithState(
        _account,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


EXPIRE_OUTPUT_SCHEMA = StructType(
    [
        StructField("partition_key", StringType()),
        StructField("n_messages", LongType()),
        StructField("n_bytes", LongType()),
        StructField("expired", BooleanType()),
    ]
)


def key_accounting_ttl(messages: DataFrame, ttl_ms: int) -> DataFrame:
    """Accounting with a state TTL: keys idle longer than ``ttl_ms``
    expire — their final totals are emitted with ``expired=true`` and
    the state is removed. This is the unbounded-key-space guard every
    100 TB streaming job needs (without expiry, per-key state grows
    with the lifetime key cardinality; with it, state size tracks the
    ACTIVE key set). The reference has no analogue — its only state is
    per-shard sequence numbers — so this is engine-added semantics,
    implemented on ``GroupStateTimeout.ProcessingTimeTimeout``:
    every update re-arms the key's deadline; the expiry callback fires
    on the first batch processed past it."""

    def account_ttl(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            n_messages, n_bytes = state.get if state.exists else (0, 0)
            state.remove()
            yield pd.DataFrame(
                {
                    "partition_key": [key[0]],
                    "n_messages": [n_messages],
                    "n_bytes": [n_bytes],
                    "expired": [True],
                }
            )
            return
        n_messages, n_bytes, _ = _fold(pdfs, state.get if state.exists else (0, 0))
        state.update((n_messages, n_bytes))
        state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame(
            {
                "partition_key": [key[0]],
                "n_messages": [n_messages],
                "n_bytes": [n_bytes],
                "expired": [False],
            }
        )

    return _keyed(messages).applyInPandasWithState(
        account_ttl,
        outputStructType=EXPIRE_OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


# ---------------------------------------------------------------------------
# transformWithState — Spark 4's arbitrary-stateful-processing API (the
# successor to applyInPandasWithState): named state variables on a
# StatefulProcessorHandle, RocksDB-backed, schema-evolvable. Same
# accounting semantics as key_accounting so the two faces are directly
# comparable (and covered by the same invariants).

# module-level on purpose: a Spark worker unpickling KeyTotalsProcessor
# imports THIS module first, so the protobuf path/validator fix is in
# place before pyspark's state-server client imports its stubs
from watermill_kinesis_spark.streaming.pbcompat import ensure_protobuf

_HAS_PB = ensure_protobuf()

try:  # pragma: no cover - version gate
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    HAS_TWS = _HAS_PB  # the API face AND a working protobuf runtime
except ImportError:  # pragma: no cover
    StatefulProcessor = object  # type: ignore[assignment,misc]
    HAS_TWS = False


class KeyTotalsProcessor(StatefulProcessor):
    """Per-key cumulative (n_messages, n_bytes) in a named ValueState;
    emits one row per key per batch with the running totals —
    crash-safe because the state store is checkpointed with the query
    (the generalization of the reference's per-shard sequence
    checkpoint, subscriber.go:65-75)."""

    def init(self, handle: "StatefulProcessorHandle") -> None:
        self._totals = handle.getValueState(
            "totals", "n_messages long, n_bytes long"
        )

    def handleInputRows(self, key, rows, timerValues):
        n_messages, n_bytes, batch_n = _fold(
            rows, self._totals.get() if self._totals.exists() else (0, 0)
        )
        self._totals.update((n_messages, n_bytes))
        yield pd.DataFrame(
            {
                "partition_key": [key[0]],
                "n_messages": [n_messages],
                "n_bytes": [n_bytes],
                "batch_messages": [batch_n],
            }
        )

    def close(self) -> None:
        pass


def key_accounting_tws(messages: DataFrame) -> DataFrame:
    """``key_accounting`` re-expressed on ``transformWithStateInPandas``
    (requires the RocksDB state store provider — set
    ``spark.sql.streaming.stateStore.providerClass`` to
    ``...RocksDBStateStoreProvider`` before starting the query; the
    rocksdbjni jar ships with Spark)."""
    return _keyed(messages).transformWithStateInPandas(
        statefulProcessor=KeyTotalsProcessor(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Append",
        timeMode="None",
    )
