"""Message generator for the ``pubsub_stream`` workload.

Runs as its own process, so its schedule does not slow when the
consumer does. In order it

1. appends ``backlog`` messages at once to the saturated phase's stream
   (uniform keys), while the consumer of the operating phase starts,
   then creates ``<go_path>.ready``;
2. waits for ``go_path`` to hold the schedule's start time;
3. runs the open loop on the operating stream: message ``i`` is due at
   ``start + i / rate``; every ``TICK_S`` it appends all due messages in
   one ``put_records`` call, with the scheduled time in the ``sched``
   header and Zipf-skewed partition keys, to a stream that never
   compacts;
4. writes a JSON summary: messages appended and how late the appends
   ran against the schedule.

    python3 perfbench/generator.py <op_stream> <sat_stream> <seed> <rate> <seconds> <backlog> <go_path> <summary_path>

Stream directories come from ``$PERFBENCH_STUB_ROOT`` as in
``perfbench/stub.py``. Message contents are a pure function of (seed,
label, index), so the consumer side recomputes every expected payload
digest without reading anything the generator wrote.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import sys
import time
import zlib

import numpy as np

#: distinct partition keys of the operating phase
N_KEYS = 64
#: Zipf exponent of the operating phase's keys: the shards load unevenly
ZIPF_A = 1.3
#: distinct partition keys of the saturated backlog (near-even shards)
N_UNIFORM_KEYS = 1024
#: seconds between the open loop's appends: a stub call per message
#: would take most of a core from the consumer, one per tick a small share
TICK_S = 0.01


def payload(seed: int, label: str, i: int) -> bytes:
    h = hashlib.sha256(f"{seed}/{label}/{i}".encode()).digest()
    n = 32 + h[0] // 2  # 32..159 bytes
    return (h * (n // len(h) + 1))[:n]


def digest(data: bytes) -> str:
    return hashlib.md5(data).hexdigest()


def uuid(label: str, i: int) -> str:
    return f"{label}-{i}"


def expected(seed: int, label: str, n: int) -> dict[str, str]:
    """uuid -> payload digest of messages ``0..n-1`` of ``label``."""
    return {uuid(label, i): digest(payload(seed, label, i)) for i in range(n)}


def envelope(seed: int, label: str, i: int, key: str, sched: float) -> bytes:
    return json.dumps(
        {
            "watermill_message_uuid": uuid(label, i),
            "data": base64.b64encode(payload(seed, label, i)).decode(),
            "headers": {"partitionKey": key, "sched": f"{sched:.6f}"},
        }
    ).encode()


def records(seed: int, label: str, keys: list[str], sched: float) -> list[dict]:
    return [
        {"Data": envelope(seed, label, i, k, sched), "PartitionKey": k}
        for i, k in enumerate(keys)
    ]


def uniform_keys(n: int) -> list[str]:
    return [f"u{i % N_UNIFORM_KEYS}" for i in range(n)]


def skewed_keys(seed: int, n: int) -> list[str]:
    rng = np.random.default_rng([seed, zlib.crc32(b"keys")])
    return [f"k{k}" for k in (rng.zipf(ZIPF_A, n) - 1) % N_KEYS]


def _client(stream: str):
    from perfbench.stub import stream_dir
    from watermill_kinesis_spark.sources.kinesis_stub import FileStubKinesisClient

    return FileStubKinesisClient(stream_dir(stream))


def run(op_stream, sat_stream, seed, rate, seconds, backlog, go_path, summary_path):
    sat = _client(sat_stream)
    sat.put_records(
        StreamName=sat_stream,
        Records=records(seed, sat_stream, uniform_keys(backlog), time.time()),
    )
    open(go_path + ".ready", "w").close()
    while not os.path.exists(go_path):
        time.sleep(0.01)
    with open(go_path) as f:
        start = float(f.read())
    op = _client(op_stream)
    # no compaction in the open loop: folding the journal into a snapshot
    # rewrites the whole stream (a third of a second at 4 MB) and makes
    # every reader reparse it, a service stall in the middle of the window
    op._COMPACT_MIN_BYTES = 1 << 40
    n = int(rate * seconds)
    keys = skewed_keys(seed, n)
    late: list[float] = []
    i = 0
    while i < n:
        now = time.time()
        due = min(n, int((now - start) * rate) + 1)
        if due > i:
            batch = [
                {
                    "Data": envelope(seed, op_stream, j, keys[j], start + j / rate),
                    "PartitionKey": keys[j],
                }
                for j in range(i, due)
            ]
            op.put_records(StreamName=op_stream, Records=batch)
            appended = time.time()
            late.extend(appended - (start + j / rate) for j in range(i, due))
            i = due
        # one append per tick at most, and none before a message is due
        time.sleep(max(0.0, now + TICK_S - time.time(), start + i / rate - time.time()))
    with open(summary_path, "w") as f:
        json.dump({"appended": i, "late_ms_max": 1000 * max(late, default=0.0)}, f)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    a = sys.argv[1:]
    run(a[0], a[1], int(a[2]), float(a[3]), float(a[4]), int(a[5]), a[6], a[7])
