"""Kinesis service stand-in for the benchmark, with every call timed.

``client`` is the ``clientfactory`` target handed to the ``kinesis_aws``
reader (``"perfbench.stub:client"``). It wraps
``kinesis_stub.file_stub_client`` and finds the stub's state directory
from the stream name alone: ``$PERFBENCH_STUB_ROOT/<stream>``. The
reader forwards no ``stubdir`` option when built through
``api.SubscriberBuilder.with_kinesis``, and the environment variable
reaches the executors' Python workers because the JVM that spawns them
inherits it. A fresh stream name therefore means fresh stub state.

The stub is harness, not system under test: each call's duration is
service wait. With ``$PERFBENCH_TRACE_DIR`` set, every call is written
as one span line to ``spans-<pid>.jsonl`` in that directory, as soon as
it ends (Spark may stop an idle Python worker without exit hooks, so
nothing is held back), while that directory exists: the benchmark
creates it for the traced pass only. A client decides once, when the
reader builds it.
"""

from __future__ import annotations

import functools
import json
import os
import time
import uuid

from watermill_kinesis_spark.sources import kinesis_stub
from watermill_kinesis_spark.streaming.sink import KinesisPublisher

STUB_ROOT_ENV = "PERFBENCH_STUB_ROOT"
TRACE_DIR_ENV = "PERFBENCH_TRACE_DIR"
#: value for ``option("clientfactory", ...)`` / ``with_kinesis(client_factory=...)``
FACTORY = "perfbench.stub:client"
#: shards every benchmark stream is created with
N_SHARDS = 4


def stream_dir(stream: str) -> str:
    return os.path.join(os.environ[STUB_ROOT_ENV], stream)


def create_stream(stream: str) -> kinesis_stub.FileStubKinesisClient:
    """A new, empty stub stream with ``N_SHARDS`` open shards."""
    path = stream_dir(stream)
    if os.path.exists(path):
        raise FileExistsError(path)
    c = kinesis_stub.FileStubKinesisClient(path)
    for i in range(N_SHARDS):
        c.add_shard(f"shardId-{i:012d}")
    return c


class _SpanFile:
    """Write-through span log of one process, appended by each client."""

    def __init__(self, trace_dir: str):
        self._fd = os.open(
            os.path.join(trace_dir, f"spans-{os.getpid()}.jsonl"),
            os.O_WRONLY | os.O_CREAT | os.O_APPEND,
            0o644,
        )

    def write(self, **span) -> None:
        span["id"] = f"{os.getpid()}-{uuid.uuid4().hex}"
        os.write(self._fd, (json.dumps(span) + "\n").encode())

    def __del__(self):
        os.close(self._fd)


def _spans() -> _SpanFile | None:
    """The span log, while the traced pass's directory exists."""
    trace_dir = os.environ.get(TRACE_DIR_ENV)
    if trace_dir and os.path.isdir(trace_dir):
        return _SpanFile(trace_dir)
    return None


class TimedClient:
    """The four boto3-shaped calls the engine makes, forwarded to the
    file-backed stub, each one recorded as a ``service.<call>`` span
    whose trace id is the stream name."""

    def __init__(self, inner, stream: str):
        self._inner = inner
        self._stream = stream
        self._spans = _spans()

    def _timed(self, call: str, count, **kwargs):
        start = time.time()
        resp = getattr(self._inner, call)(**kwargs)
        if self._spans is not None:
            self._spans.write(
                name=f"service.{call}",
                trace=self._stream,
                parent=None,
                start=start,
                end=time.time(),
                records=count(resp, kwargs),
            )
        return resp

    def list_shards(self, **kwargs):
        return self._timed("list_shards", lambda r, k: 0, **kwargs)

    def get_shard_iterator(self, **kwargs):
        return self._timed("get_shard_iterator", lambda r, k: 0, **kwargs)

    def get_records(self, **kwargs):
        return self._timed(
            "get_records", lambda r, k: len(r.get("Records", ())), **kwargs
        )

    def put_records(self, **kwargs):
        return self._timed(
            "put_records", lambda r, k: len(k.get("Records") or ()), **kwargs
        )


def client(options) -> TimedClient:
    """``clientfactory`` target: the timed stub client for
    ``options['streamname']``."""
    stream = options.get("streamname")
    inner = kinesis_stub.file_stub_client({"stubdir": stream_dir(stream)})
    return TimedClient(inner, stream)


def _make_publisher(stream: str) -> KinesisPublisher:
    return KinesisPublisher(stream, client=client({"streamname": stream}))


def publisher_factory(stream: str):
    """Picklable zero-argument factory for ``sink.publish_batch``: a
    ``KinesisPublisher`` with the timed stub client injected, built on
    the executor."""
    return functools.partial(_make_publisher, stream)
