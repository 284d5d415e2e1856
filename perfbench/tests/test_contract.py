"""Spark-free checks of the benchmark's output contract and helpers.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import re
import shutil
import subprocess

import pytest

from perfbench import backlog, generator, headline, metrics, trace

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_declares_the_catalog():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in b["workloads"]] == list(metrics.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in b["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]} == {
        n: spec[:2] for n, spec in metrics.PER_LAYER.items()
    }
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    assert b["paths"] == ["perfbench"]
    assert 1 <= b["run_seconds"] <= 60


def test_metric_counts_names_and_units():
    assert 1 <= len(metrics.END_TO_END) <= 16
    assert 1 <= len(metrics.PER_LAYER) <= 128
    names = list(metrics.END_TO_END) + list(metrics.PER_LAYER)
    assert len(names) == len(set(names))
    for n in names:
        assert metrics.NAME_RE.match(n), n
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", n), n
    units = [u for u, _ in metrics.END_TO_END.values()] + [
        spec[0] for spec in metrics.PER_LAYER.values()
    ]
    assert all(UNIT_RE.match(u) for u in units)


def test_every_ratio_carries_its_base():
    ratios = {n for n, spec in metrics.PER_LAYER.items() if spec[0] == "ratio"}
    assert ratios == set(metrics.BASES)
    for base in metrics.BASES.values():
        assert metrics.PER_LAYER[base][0] == "count"


def test_every_layer_metric_names_what_it_moves():
    for name, (_, better, moves, workloads) in metrics.PER_LAYER.items():
        assert better in ("higher", "lower"), name
        assert moves in metrics.END_TO_END, name
        assert workloads and set(workloads) <= set(metrics.WORKLOADS), name


@pytest.mark.parametrize("trace_flag", [False, True])
def test_payload_prints_every_metric_with_its_unit(trace_flag):
    spec = metrics.PER_LAYER if trace_flag else metrics.END_TO_END
    out = metrics.payload(trace_flag, {next(iter(spec)): 1.5}, 10, 1, correct=False)
    line = json.dumps(out)
    assert "\n" not in line
    back = json.loads(line)
    assert set(back) == {"correct", "attempted", "failed", "metrics"}
    assert back["attempted"] == 10 and back["failed"] == 1
    assert set(back["metrics"]) == set(spec)
    for name, m in back["metrics"].items():
        assert set(m) == {"value", "unit"}
        assert m["unit"] == spec[name][0]
        assert isinstance(m["value"], float)


def test_payload_counts_at_least_one_attempt():
    assert metrics.payload(False, {}, 0, 0, correct=True)["attempted"] == 1


def test_python_queries_are_among_the_queries():
    assert len(set(headline.QUERIES)) == len(headline.QUERIES)
    assert headline.PYTHON <= set(headline.QUERIES)


def _batches(rate: float, deliver: float, seconds: float, every: float = 0.25):
    """(end, rows) of a consumer that delivers ``deliver`` msgs/s of a
    ``rate`` msgs/s schedule starting at 0, one batch every ``every`` s."""
    out, done = [], 0
    for k in range(1, int(seconds / every) + 1):
        end = k * every
        due = min(int(end * rate) + 1, int(end * deliver) + 1)
        out.append((end, due - done))
        done = due
    return out


def test_backlog_of_a_consumer_that_keeps_up_is_valid():
    points = backlog.samples(_batches(2000, 2000, 15), 0.0, 2000, 30_001)
    assert all(b == 0 for _, b in points)
    assert backlog.growth(points) == pytest.approx(0.0, abs=1e-6)
    assert backlog.valid(points, 2000)


def test_backlog_of_a_consumer_that_falls_behind_is_invalid():
    points = backlog.samples(_batches(2000, 1900, 15), 0.0, 2000, 30_001)
    assert backlog.growth(points) == pytest.approx(100, rel=0.01)
    assert not backlog.valid(points, 2000)


def test_backlog_beyond_one_trigger_is_invalid_even_when_flat():
    # a flat backlog above what one trigger may read: the consumer never caught up
    points = [(t, backlog.TRIGGER_BUDGET + 1) for t in range(10)]
    assert backlog.growth(points) == pytest.approx(0.0, abs=1e-6)
    assert not backlog.valid(points, 2000)


def _span(id, name, start, end, parent=None, trace_id="t"):
    return {"id": id, "name": name, "trace": trace_id, "parent": parent, "start": start, "end": end}


def test_link_and_self_time():
    spans = [
        _span("d-1", "sink.publish_batch", 0.0, 10.0),
        _span("d-2", "spark.stage", 1.0, 4.0, trace_id=None),
        _span("d-3", "spark.stage", 3.0, 6.0, trace_id=None),
        _span("9-1", "service.put_records", 2.0, 2.5),
    ]
    trace.link(spans)
    assert [s["parent"] for s in spans] == [None, "d-1", "d-1", "d-2"]
    assert spans[1]["trace"] == "t"
    selfs = trace.self_times(spans)
    assert selfs["sink"] == pytest.approx(10.0 - 5.0)  # stages cover 1..6
    assert selfs["spark"] == pytest.approx(3.0 - 0.5 + 3.0)
    assert selfs["service"] == pytest.approx(0.5)


def test_stage_totals_driver_gap():
    stages = [
        {"start": 1.0, "end": 3.0, "tasks": 4, "run_s": 2.0, "cpu_s": 1.0, "gc_s": 0.0,
         "shuffle_read_mb": 0.0, "shuffle_write_mb": 1.0, "spill_mb": 0.0},
        {"start": 2.0, "end": 5.0, "tasks": 1, "run_s": 1.0, "cpu_s": 1.0, "gc_s": 0.1,
         "shuffle_read_mb": 1.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0},
    ]
    t = trace.stage_totals(stages, (0.0, 10.0))
    assert t["stages"] == 2 and t["tasks"] == 5
    assert t["driver_gap_s"] == pytest.approx(10.0 - 4.0)


def test_peak_rss_skips_a_jvm_fork_before_its_exec(monkeypatch):
    me = os.getpid()
    tree = {me: [1], 1: [2, 3], 2: [], 3: [4], 4: [], 5: []}
    procs = {me: ("python3", 100), 1: ("java", 1000), 2: ("java", 1000),
             3: ("python3", 50), 4: ("python3", 30), 5: ("python3", 70)}
    monkeypatch.setattr(trace, "_children", lambda pid: tree[pid])
    monkeypatch.setattr(trace, "_status", lambda pid: procs[pid])
    rss = trace.PeakRss()
    rss.sample()
    assert rss.peak_kb == 100 + 1000 + 50 + 30  # not the fork 2
    rss.exclude.add(3)
    tree[me].append(5)
    rss.peak_kb = 0
    rss.sample()
    assert rss.peak_kb == 100 + 1000 + 70  # not the excluded tree 3


def test_generator_messages_are_a_function_of_the_seed():
    assert generator.payload(7, "s", 3) == generator.payload(7, "s", 3)
    assert generator.payload(7, "s", 3) != generator.payload(8, "s", 3)
    env = json.loads(generator.envelope(7, "s", 3, "k1", 12.5))
    assert env["watermill_message_uuid"] == "s-3"
    assert env["headers"] == {"partitionKey": "k1", "sched": "12.500000"}
    assert generator.expected(7, "s", 2) == {
        "s-0": generator.digest(generator.payload(7, "s", 0)),
        "s-1": generator.digest(generator.payload(7, "s", 1)),
    }
    keys = generator.skewed_keys(7, 5000)
    assert keys == generator.skewed_keys(7, 5000)
    top = max(keys.count(k) for k in set(keys))
    assert top > 3 * len(keys) / generator.N_KEYS  # skewed, not uniform


def test_datagen_is_deterministic_per_seed():
    from perfbench import datagen

    a, b = datagen.table(3, "documents"), datagen.table(3, "documents")
    assert a.equals(b)
    assert not a.equals(datagen.table(4, "documents"))
    assert a.schema.names == ["doc_id", "text", "lang", "source", "n_chars"]
    assert a.num_rows == datagen.SF01_ROWS["documents"]


def test_refuses_to_run_without_the_engine(tmp_path):
    """Beside only BENCHMARK.json and its own files, the command exits
    non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__", "tests"),
    )
    cmd = _bench()["command"] + ["--workload", "pubsub_stream", "--seed", "1", "--seconds", "1", "--trace", "0"]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=120, env=env)
    assert r.returncode != 0
    assert '"metrics"' not in r.stdout
    assert not (tmp_path / ".perfbench").exists()
