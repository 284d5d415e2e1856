"""Streaming-semantics operators, registry-facing.

Each query here runs a REAL Structured Streaming query (file source →
``availableNow`` trigger → memory sink) and returns its result — these
are rows-only checks because the semantics (watermark late-drop,
within-watermark dedup, checkpointed redelivery) exist only on streams;
the window *arithmetic* itself is oracle-verified in batch by
operators/windows.py (SURVEY.md §2-C, driver contract note on
non-SQL-expressible ops).

Each call owns its files: topic directories, checkpoints and file-sink
outputs live in a ``tempfile.TemporaryDirectory`` that goes when the
call returns or raises. ``drain`` runs a stream into a memory sink and
drops the sink's view at once, so no name is left in the caller's
catalog; the restart entries drain through a file sink (a memory sink
cannot recover from a checkpoint) and return a ``localCheckpoint`` of
its rows.
"""

from __future__ import annotations

import datetime
import os
import tempfile
import uuid as uuidlib
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession, functions as F

from watermill_kinesis_spark.api import SubscriberBuilder
from watermill_kinesis_spark.functions.scope import Scope
from watermill_kinesis_spark.registry import query
from watermill_kinesis_spark.sources.tables import load_table
from watermill_kinesis_spark.streaming.semantics import dedup_by_uuid
from watermill_kinesis_spark.streaming.sink import DirectoryPublisher, publish_batch


def _event_messages(spark: SparkSession, sf_dir: str, where=None) -> DataFrame:
    """events → canonical messages; event time rides in the metadata
    map as an ISO string (the payload stays opaque, like the
    reference's model)."""
    ev = load_table(spark, sf_dir, "events")
    if where is not None:
        ev = ev.where(where)
    return ev.select(
        F.col("event_id").cast("string").alias("uuid"),
        F.encode("props", "UTF-8").alias("payload"),
        F.create_map(
            F.lit("partitionKey"), F.col("user_id").cast("string"),
            F.lit("eventType"), F.col("event_type"),
            F.lit("eventTime"), F.date_format("ts", "yyyy-MM-dd HH:mm:ss"),
        ).alias("metadata"),
    )


def _publish(messages: DataFrame, topic: str) -> None:
    """Publish messages to a 4-shard topic directory through the
    directory transport's writer, in the scan's own partitions (crc32
    key routing still keeps every key on one shard)."""
    publish_batch(
        messages, lambda: DirectoryPublisher(topic), preserve_key_order=False
    )


def _subscribe(spark: SparkSession, topic: str) -> DataFrame:
    """Decoded message stream of a topic directory (corrupt records
    skipped), through the builder's subscriber."""
    root, name = os.path.split(topic)
    return SubscriberBuilder().with_endpoint(root).build().subscribe(spark, name)


def drain(stream_df: DataFrame, checkpoint: str, mode: str = "append") -> DataFrame:
    """Run ``stream_df`` to the end of its input (one ``availableNow``
    trigger) into a memory sink and return the sink's rows. The sink's
    temp view is dropped before returning, on error too: the returned
    DataFrame holds the sink itself, not its name."""
    spark = stream_df.sparkSession
    name = f"wk_drain_{uuidlib.uuid4().hex}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


def _drain_across_restart(
    spark: SparkSession,
    batches: Iterable[DataFrame],
    stream_of: Callable[[str], DataFrame],
    prefix: str,
) -> DataFrame:
    """Publish each batch to one topic and drain ``stream_of(topic)``
    after each, every run from the SAME checkpoint: run n+1 restarts
    from run n's committed offsets, watermark and state. A memory sink
    refuses to recover from a checkpoint, so the runs append to a JSON
    file sink; its rows come back as a ``localCheckpoint``, which the
    result owns once the directory is gone."""
    with tempfile.TemporaryDirectory(prefix=f"wk_{prefix}_") as base:
        topic, ckpt, out = (os.path.join(base, d) for d in ("topic", "ckpt", "out"))
        for batch in batches:
            _publish(batch, topic)
            stream = stream_of(topic)
            (
                stream.writeStream.format("json")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
                .awaitTermination()
            )
        return spark.read.schema(stream.schema).json(out).localCheckpoint()


def _key_totals(emissions: DataFrame) -> DataFrame:
    """Final per-key totals of the key-accounting emissions."""
    return emissions.groupBy("partition_key").agg(
        F.max("n_messages").alias("total_messages"),
        F.max("n_bytes").alias("total_bytes"),
        F.count(F.lit(1)).alias("n_emissions"),
    )


@query("stream_roundtrip_counts", tags=("streaming",))
def stream_roundtrip_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Publish→subscribe round trip through the wire format on a real
    stream: events become messages, land in a sharded topic directory,
    are re-read with ``readStream`` + envelope decode (corrupt-skip
    on), and counted per event type. Verifies the full §3.1/§3.2
    lifecycle — marshal → transport → unmarshal — end to end. Rows-only: live streaming offsets and
    watermark state are not SQL-expressible; the arithmetic twin is
    oracle-checked in batch and the streaming invariants are asserted
    in tests/test_streaming.py."""
    with tempfile.TemporaryDirectory(prefix="wk_stream_") as base:
        topic = os.path.join(base, "topic")
        _publish(_event_messages(spark, sf_dir, F.col("event_id") < 2000), topic)
        counted = _subscribe(spark, topic).select(
            F.col("metadata").getItem("eventType").alias("event_type"),
            F.col("metadata").getItem("shardID").alias("shard_id"),
        )
        rows = drain(counted, os.path.join(base, "ckpt"))
    return (
        rows.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("shard_id").alias("n_shards"),
        )
        .orderBy("event_type")
    )


@query("stream_dedup_uuid", tags=("streaming",))
def stream_dedup_uuid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once → effective exactly-once: batch 1 of the topic is
    fully duplicated into batch 2 (simulated redelivery after a crash,
    reference README.md:51-53), and ``dropDuplicatesWithinWatermark``
    on the message uuid suppresses every replay. Output counts equal
    the unique-message count. Rows-only: live streaming offsets and
    watermark state are not SQL-expressible; the arithmetic twin is
    oracle-checked in batch and the streaming invariants are asserted
    in tests/test_streaming.py."""
    msgs = _event_messages(spark, sf_dir, F.col("event_id") < 1000)
    with tempfile.TemporaryDirectory(prefix="wk_dedup_") as base:
        topic = os.path.join(base, "topic")
        # batch0: all messages; batch1: the same messages again (redelivery)
        _publish(msgs, topic)
        _publish(msgs, topic)
        decoded = _subscribe(spark, topic).withColumn(
            "event_time", F.col("metadata").getItem("eventTime").cast("timestamp")
        )
        deduped = dedup_by_uuid(decoded, delay="1 hour")
        rows = drain(deduped.select("uuid"), os.path.join(base, "ckpt"))
    return rows.agg(
        F.count(F.lit(1)).alias("n_delivered"),
        F.countDistinct("uuid").alias("n_unique"),
    )


@query("watermark_late_drop", tags=("streaming",))
def watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark semantics across a checkpointed restart: run 1
    processes the fresh events and commits its watermark; run 2 (same
    checkpoint — the crash/replay path) delivers only *ancient* events,
    ≥ 48 h older than the committed watermark, whose 6-hour windows are
    long closed — every one is dropped by late-record filtering
    (rows-only: watermark state is streaming-only semantics)
    (visible as ``numRowsDroppedByWatermark``). Two separate runs
    because Spark's late filter uses the watermark committed by the
    PREVIOUS batch: in-run it lags one micro-batch, across restart it
    gates immediately. Output exposes n_fresh/n_late inputs so the
    drop is visible: n_counted ≤ n_fresh despite n_late extra rows."""
    ev = load_table(spark, sf_dir, "events")
    fresh = _event_messages(spark, sf_dir, F.col("event_id") < 2000)
    # the reference point is the FRESH batch's own max event time —
    # that is what the watermark will be derived from after batch 0
    cutoff = ev.where(F.col("event_id") < 2000).agg(F.max("ts")).collect()[0][0]
    late_bound = cutoff - datetime.timedelta(hours=48)
    # batch 1 re-delivers OLD events from batch 0's range (event ids
    # correlate with time in the testdata, so a disjoint id range would
    # not be late) — the classic replay-after-crash arrival pattern
    late = _event_messages(
        spark,
        sf_dir,
        (F.col("event_id") < 2000) & (F.col("ts") < F.lit(late_bound)),
    )

    def windowed(topic: str) -> DataFrame:
        decoded = _subscribe(spark, topic).withColumn(
            "event_time", F.col("metadata").getItem("eventTime").cast("timestamp")
        )
        return (
            decoded.withWatermark("event_time", "1 hour")
            .groupBy(F.window("event_time", "6 hours"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                    "window_start"
                ),
                "n",
            )
        )

    # run 1 commits the fresh watermark; in run 2, the replay, every
    # late row is gated by it
    out = _drain_across_restart(spark, (fresh, late), windowed, "wm")
    n_fresh, n_late = fresh.count(), late.count()
    return out.agg(
        F.sum("n").cast("bigint").alias("n_counted"),
        F.count(F.lit(1)).alias("n_windows"),
        F.lit(n_fresh).alias("n_fresh_input"),
        F.lit(n_late).alias("n_late_input"),
    )


@query("stream_stateful_accounting", tags=("streaming", "stateful"))
def stream_stateful_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (`applyInPandasWithState`) across a
    checkpointed restart: run 1 streams batch b0, run 2 (same
    checkpoint) streams b1 — per-key totals in run 2 CONTINUE from
    run 1's persisted state (cumulative ≥ batch counts), proving the
    state store survives the restart like the reference's checkpointed
    sequence numbers (subscriber.go:65-75). Rows-only: custom state is
    not SQL-expressible; invariants asserted in tests."""
    from watermill_kinesis_spark.streaming.stateful import key_accounting

    b0 = _event_messages(spark, sf_dir, F.col("event_id") < 600)
    b1 = _event_messages(
        spark, sf_dir, (F.col("event_id") >= 600) & (F.col("event_id") < 1200)
    )
    # run 2 restarts: state restored from checkpoint, counts continue
    return _key_totals(
        _drain_across_restart(
            spark, (b0, b1), lambda t: key_accounting(_subscribe(spark, t)), "state"
        )
    )


@query("stream_static_join", tags=("streaming", "join"))
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the live message stream enriches against the
    static customer dimension (loaded once per micro-batch, broadcast by
    Catalyst). The standard streaming-enrichment shape — dim lookups
    need no state, no watermark. Rows-only: live streaming offsets and
    watermark state are not SQL-expressible; the arithmetic twin is
    oracle-checked in batch and the streaming invariants are asserted
    in tests/test_streaming.py."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("string").alias("partition_key"),
        "c_mktsegment",
    )
    with tempfile.TemporaryDirectory(prefix="wk_ssj_") as base:
        topic = os.path.join(base, "topic")
        _publish(_event_messages(spark, sf_dir, F.col("event_id") < 2000), topic)
        decoded = _subscribe(spark, topic).select(
            F.col("metadata").getItem("partitionKey").alias("partition_key")
        )
        rows = drain(
            decoded.join(cust, "partition_key", "left"), os.path.join(base, "ckpt")
        )
    return (
        rows.groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("c_mktsegment")
    )


def _watermarked_click_buy_join(
    spark: SparkSession, sf_dir: str, prefix: str, how: str
) -> DataFrame:
    """Shared scaffolding for the stream-stream funnel joins: publish
    one batch of events to a topic, subscribe twice (clicks /
    purchases), watermark both sides 2 h, and join on same-user within
    a 1-hour window with the given join type. Returns the drained
    (user_c, click_ts, buy_ts) rows."""
    with tempfile.TemporaryDirectory(prefix=f"wk_{prefix}_") as base:
        topic = os.path.join(base, "topic")
        _publish(_event_messages(spark, sf_dir, F.col("event_id") < 4000), topic)

        def side(kind: str, ts_alias: str, key_alias: str):
            return (
                _subscribe(spark, topic)
                .where(F.col("metadata").getItem("eventType") == kind)
                .select(
                    F.col("metadata").getItem("partitionKey").alias(key_alias),
                    F.col("metadata")
                    .getItem("eventTime")
                    .cast("timestamp")
                    .alias(ts_alias),
                )
                .withWatermark(ts_alias, "2 hours")
            )

        clicks = side("click", "click_ts", "user_c")
        buys = side("purchase", "buy_ts", "user_b")
        joined = clicks.join(
            buys,
            (F.col("user_c") == F.col("user_b"))
            & (F.col("buy_ts") >= F.col("click_ts"))
            & (F.col("buy_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
            how,
        )
        return drain(
            joined.select("user_c", "click_ts", "buy_ts"), os.path.join(base, "ckpt")
        )


@query("stream_stream_join", tags=("streaming", "join"))
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with watermarks and a time-range
    condition: click events join purchase events of the same user
    within 1 hour — both sides buffer state bounded by their
    watermarks, the canonical funnel/attribution shape. Rows-only:
    stream-stream state semantics are not SQL-expressible (DuckDB has
    no notion of two buffered sides)."""
    return _watermarked_click_buy_join(spark, sf_dir, "s2j", "inner").agg(
        F.count(F.lit(1)).alias("n_attributed"),
        F.countDistinct("user_c").alias("n_users"),
    )


@query("stream_left_outer_join", tags=("streaming", "join"))
def stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join with watermarks: every click
    joins its within-1-hour purchase, and clicks with NO matching
    purchase are emitted null-padded once the watermark passes their
    join window — the semantics that separates outer from inner
    stream joins (Spark buffers the left row until the watermark
    proves no match can still arrive; an inner join would silently
    drop it). The canonical abandoned-funnel shape: conversion AND
    abandonment from one join. Rows-only: two watermark-bounded state
    buffers with timeout-driven null emission are not SQL-expressible;
    tests/test_streaming.py pins matched + abandoned = emitted rows
    AND brackets the abandoned count between the batch recompute and
    its watermark-flushable subset (clicks whose window never ages
    past the final watermark legitimately stay buffered at
    end-of-stream — the documented outer-join tail holdback)."""
    return _watermarked_click_buy_join(spark, sf_dir, "slo", "left_outer").agg(
        F.count(F.lit(1)).alias("n_click_rows"),
        F.sum(F.when(F.col("buy_ts").isNotNull(), 1).otherwise(0)).alias(
            "n_matched"
        ),
        F.sum(F.when(F.col("buy_ts").isNull(), 1).otherwise(0)).alias(
            "n_abandoned"
        ),
        F.countDistinct("user_c").alias("n_users"),
    )


@query("statestore_reader_audit", tags=("streaming", "state", "observability"))
def statestore_reader_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's State Data Source: after a checkpointed streaming
    aggregation, ``spark.read.format("statestore")`` opens the state
    store FILES themselves — the ops/debugging face that lets an
    operator audit, backfill-verify, or migrate streaming state
    without replaying the stream (the engine-side replacement for the
    reference's "inspect the DynamoDB lease/checkpoint table"
    workflow). A per-key running count runs over one publish batch,
    then the state rows read back from the checkpoint must agree with
    the live query's own output: per-key counts AND the operator
    metadata (one 'stateStoreSave' operator). Rows-only: state-file
    layout is engine-internal; the count arithmetic itself is
    oracle-verified in batch by partition_key_group."""
    with tempfile.TemporaryDirectory(prefix="wk_ssr_") as base:
        topic, ckpt = os.path.join(base, "topic"), os.path.join(base, "ckpt")
        _publish(_event_messages(spark, sf_dir, F.col("event_id") < 2000), topic)
        counts = (
            _subscribe(spark, topic)
            .select(F.col("metadata").getItem("partitionKey").alias("partition_key"))
            .groupBy("partition_key")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        live = drain(counts, ckpt, "complete").select(
            "partition_key", F.col("n").alias("n_live")
        )
        n_operators = spark.read.format("state-metadata").load(ckpt).count()
        st = spark.read.format("statestore").load(ckpt)
        # key/value struct field names follow the aggregation's grouping
        # column and agg alias — resolve from the schema, not by guess
        key_field = st.schema["key"].dataType.names[0]
        val_field = st.schema["value"].dataType.names[0]
        # the state files go with the directory: the result owns a copy
        state = st.select(
            F.col(f"key.{key_field}").alias("partition_key"),
            F.col(f"value.{val_field}").alias("n_state"),
        ).localCheckpoint()
    return (
        state.join(live, "partition_key", "full_outer")
        .select(
            "partition_key",
            "n_state",
            "n_live",
            (F.col("n_state") == F.col("n_live")).alias("state_matches_live"),
            F.lit(n_operators).alias("n_state_operators"),
        )
        .orderBy("partition_key")
    )


def has_tws_runtime() -> bool:
    """``transformWithStateInPandas`` needs the protobuf-based state
    server protocol: the API exists in pyspark, but the streaming
    python runner crashes without ``google.protobuf``. The gate now
    goes through :mod:`..streaming.pbcompat`, which also discovers
    the Google Cloud SDK's vendored pure-python runtime when no pip
    package exists (this sandbox's case — r6 VERDICT task 6 closed
    the perpetual skip this way). An environment with NO runtime at
    all still gets an honest absence instead of a red query."""
    from watermill_kinesis_spark.streaming.stateful import HAS_TWS

    return HAS_TWS


def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's ``transformWithStateInPandas`` — the successor API to
    ``applyInPandasWithState`` (named state variables on a handle,
    RocksDB state store, timers, schema evolution) — running the SAME
    per-key accounting as ``stream_stateful_accounting`` across a
    checkpointed restart: run 1 streams batch b0, run 2 (same
    checkpoint) streams b1, and run-2 totals CONTINUE from run 1's
    persisted ValueState. Rows-only: custom state is not
    SQL-expressible; continuation invariants asserted in
    tests/test_streaming.py."""
    from watermill_kinesis_spark.streaming.pbcompat import (
        ensure_protobuf_on_workers,
    )
    from watermill_kinesis_spark.streaming.stateful import key_accounting_tws

    # ship the protobuf runtime to the session's python workers when
    # only a vendored copy exists (see pbcompat) — the state-schema
    # validation worker imports the stubs before any engine code runs
    if not ensure_protobuf_on_workers(spark):
        raise RuntimeError(
            "transformWithState requires a google.protobuf runtime"
        )

    b0 = _event_messages(spark, sf_dir, F.col("event_id") < 600)
    b1 = _event_messages(
        spark, sf_dir, (F.col("event_id") >= 600) & (F.col("event_id") < 1200)
    )
    with Scope(spark) as scope:
        scope.set_conf(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        # run 2 restarts: ValueState restored, totals continue
        out = _drain_across_restart(
            spark, (b0, b1), lambda t: key_accounting_tws(_subscribe(spark, t)), "tws"
        )
    return _key_totals(out)


if has_tws_runtime():  # pragma: no cover - container lacks protobuf
    query("stream_transform_with_state", tags=("streaming", "stateful", "spark4"))(
        stream_transform_with_state
    )


@query("stream_update_mode_counts", tags=("streaming", "output-mode"))
def stream_update_mode_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Update output mode — the third face of streaming aggregation
    output (append emits only finalized groups, complete re-emits all
    state, UPDATE emits just the groups a batch touched). Two publish
    batches flow through one unwatermarked running count; the memory
    sink accumulates one row per (key, update), and the LAST update
    per key must equal the batch ground truth. Rows-only: output-mode
    mechanics are not SQL-expressible; the count arithmetic is
    oracle-verified in batch by partition_key_group."""
    with tempfile.TemporaryDirectory(prefix="wk_upd_") as base:
        topic = os.path.join(base, "topic")
        for lo, hi in ((0, 1000), (1000, 2000)):
            msgs = _event_messages(
                spark, sf_dir, (F.col("event_id") >= lo) & (F.col("event_id") < hi)
            )
            _publish(msgs, topic)
        counts = (
            _subscribe(spark, topic)
            .select(F.col("metadata").getItem("partitionKey").alias("partition_key"))
            .groupBy("partition_key")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        rows = drain(counts, os.path.join(base, "ckpt"), "update")
    return (
        rows.groupBy("partition_key")
        .agg(F.max("n").alias("n_messages"))
        .orderBy("partition_key")
    )


@query("stream_complete_mode_topk", tags=("streaming", "output-mode"))
def stream_complete_mode_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complete output mode — the last of the three aggregation output
    modes (append emits finalized groups, update emits touched groups,
    COMPLETE re-emits the whole result table every batch): a running
    per-event-type leaderboard where each batch's emission REPLACES
    the sink table, the mode dashboards want. After draining two
    publish batches the final table must equal the batch ground truth
    exactly — not accumulate emissions. Rows-only: output-mode
    mechanics are not SQL-expressible; the count arithmetic is
    oracle-checked in batch by partition_key_group."""
    with tempfile.TemporaryDirectory(prefix="wk_cmp_") as base:
        topic = os.path.join(base, "topic")
        for lo, hi in ((0, 1000), (1000, 2000)):
            msgs = _event_messages(
                spark, sf_dir, (F.col("event_id") >= lo) & (F.col("event_id") < hi)
            )
            _publish(msgs, topic)
        counts = (
            _subscribe(spark, topic)
            .select(F.col("metadata").getItem("eventType").alias("event_type"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        # complete mode: the memory sink holds exactly the LAST emission
        rows = drain(counts, os.path.join(base, "ckpt"), "complete")
    return rows.orderBy("event_type")
