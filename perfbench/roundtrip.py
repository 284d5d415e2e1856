"""Publish-then-backfill phase of ``pubsub_stream``.

A closed-loop round trip into a fresh stub stream, with no
micro-batches:

- publish: ``streaming.sink.publish_batch(messages, factory)`` marshals
  the 100k ``events`` messages (``operators.messages.messages_from_events``
  over ``sources.tables``), repartitions them by partition key and puts
  them in chunks of at most 500, through a ``KinesisPublisher`` with the
  timed stub client injected;
- backfill: ``spark.read.format("kinesis_aws")`` drains the stream and
  ``codec.unmarshal`` decodes it; each message's uuid, payload digest
  and partition key are collected to the driver.

The backfill must equal the input: same uuids, payloads and keys, once
each.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from perfbench import stub


def _messages(ctx):
    from watermill_kinesis_spark.operators.messages import messages_from_events

    return messages_from_events(ctx.spark, ctx.data_dir).select("uuid", "payload", "metadata")


def _digests(df):
    """(uuid, payload md5, partition key) per message, as Arrow."""
    return df.select(
        "uuid",
        F.md5("payload").alias("digest"),
        F.col("metadata").getItem("partitionKey").alias("key"),
    ).toArrow()


def _rows(table) -> list[tuple]:
    return sorted(zip(*(table.column(c).to_pylist() for c in ("uuid", "digest", "key"))))


def round_trip(ctx) -> dict:
    """One publish and backfill; returns their rates, the publish job's
    stage totals and the codec's own rates."""
    from watermill_kinesis_spark import codec
    from watermill_kinesis_spark.sources import kinesis_aws
    from watermill_kinesis_spark.streaming.sink import publish_batch

    kinesis_aws.register(ctx.spark)
    ctx.expected = _rows(_digests(_messages(ctx)))
    stream = ctx.fresh("rt")
    stub.create_stream(stream)
    msgs = _messages(ctx)
    t0 = time.time()
    with ctx.tracer.span("sink.publish_batch", trace=stream):
        publish_batch(msgs, stub.publisher_factory(stream))
    t1 = time.time()
    with ctx.tracer.span("kinesis_aws.read", trace=stream):
        wire = (
            ctx.spark.read.format("kinesis_aws")
            .option("streamName", stream)
            .option("clientfactory", stub.FACTORY)
            .load()
        )
        with ctx.tracer.span("codec.unmarshal"):
            decoded = codec.unmarshal(wire, drop_corrupt=True)
        table = _digests(decoded)
    t2 = time.time()
    got = _rows(table)
    n = len(ctx.expected)
    bad = min(n, len(set(ctx.expected).symmetric_difference(got)) + len(got) - len(set(got)))
    ctx.count(attempted=n, failed=bad)
    ctx.log(f"{stream}: publish {t1 - t0:.2f}s backfill {t2 - t1:.2f}s, {len(got)} back")
    _drop(stream)
    return {
        "publish.msgs_per_s": n / (t1 - t0),
        "backfill.msgs_per_s": n / (t2 - t1),
        "roundtrip.messages": n,
        "roundtrip.failed_ratio": bad / n,
        **_publish_stages(ctx, (t0, t1)),
        **_codec_rates(ctx),
    }


def _drop(stream: str) -> None:
    import shutil

    shutil.rmtree(stub.stream_dir(stream), ignore_errors=True)


def _publish_stages(ctx, window: tuple[float, float]) -> dict:
    from perfbench.trace import StageReader, stage_totals

    t = stage_totals(StageReader(ctx.spark).stages(*window), window)
    return {
        "publish.stages": t["stages"],
        "publish.tasks": t["tasks"],
        "publish.executor_run_s": t["run_s"],
        "publish.executor_cpu_s": t["cpu_s"],
        "publish.shuffle_write_mb": t["shuffle_write_mb"],
        "publish.driver_gap_s": t["driver_gap_s"],
    }


def _codec_rates(ctx) -> dict:
    """Codec alone, on persisted inputs: marshal, then unmarshal of the
    marshalled wire, each forced with ``sum(length(...))`` because
    ``count()`` prunes the encode and the decode."""
    from watermill_kinesis_spark import codec

    msgs = _messages(ctx).persist()
    n = msgs.count()
    out = {}
    with ctx.tracer.span("codec.marshal", trace="codec"):
        t = time.perf_counter()
        codec.marshal(msgs).agg(F.sum(F.length("data"))).collect()
        out["codec.marshal_msgs_per_s"] = n / (time.perf_counter() - t)
    wire = codec.marshal(msgs).persist()
    wire.count()
    with ctx.tracer.span("codec.unmarshal", trace="codec"):
        t = time.perf_counter()
        codec.unmarshal(wire, drop_corrupt=True).agg(F.sum(F.length("payload"))).collect()
        out["codec.unmarshal_msgs_per_s"] = n / (time.perf_counter() - t)
    wire.unpersist()
    msgs.unpersist()
    return out


def from_spans(ctx, spans: list[dict]) -> dict:
    """Put and get counts of the traced pass, split by the span that
    made them (publish or backfill)."""
    by_id = {s["id"]: s for s in spans}

    def under(s, name):
        while s is not None:
            if s["name"] == name:
                return True
            s = by_id.get(s["parent"])
        return False

    puts = [s for s in spans if s["name"] == "service.put_records"]
    gets = [s for s in spans if s["name"] == "service.get_records" and under(s, "kinesis_aws.read")]
    reads = [s for s in spans if s["name"].startswith("service.") and under(s, "kinesis_aws.read")]
    n_put = sum(s["records"] for s in puts)
    # every put beyond one per message of each stream is a retry
    published = len({s["trace"] for s in puts}) * len(ctx.expected)
    return {
        "sink.put_records_calls": len(puts),
        "sink.records_per_put": n_put / len(puts) if puts else 0.0,
        "sink.service_wait_s": sum(s["end"] - s["start"] for s in puts),
        "sink.retried_records": n_put - published,
        "backfill.get_records_calls": len(gets),
        "backfill.service_wait_s": sum(s["end"] - s["start"] for s in reads),
    }


def publish_1core(ctx) -> dict:
    """Publish alone, on the current (``local[1]``) session."""
    from watermill_kinesis_spark.streaming.sink import publish_batch

    stream = ctx.fresh("rt1core")
    stub.create_stream(stream)
    msgs = _messages(ctx)
    t = time.perf_counter()
    publish_batch(msgs, stub.publisher_factory(stream))
    rate = len(ctx.expected) / (time.perf_counter() - t)
    ctx.log(f"{stream}: published at {rate:.0f} msgs/s")
    _drop(stream)
    return {"publish.msgs_per_s_1core": rate}
