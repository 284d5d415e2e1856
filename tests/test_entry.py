"""Driver-contract smoke tests."""

import importlib
import os
import sys
import tempfile
from pathlib import Path

ROOT = str(Path(__file__).resolve().parents[1])


def _entry_module():
    sys.path.insert(0, ROOT)
    return importlib.import_module("__spark_entry__")


def test_entry_returns_rows(spark):
    mod = _entry_module()
    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"event_type", "n_messages", "sum_value", "n_partition_keys"} == set(
        df.columns
    )
    assert sum(r.n_messages for r in rows) == 1000


def test_queries_and_oracles_consistent(spark):
    mod = _entry_module()
    qs = mod.queries()
    os_ = mod.oracle_sql()
    assert qs, "no queries registered"
    assert set(os_) <= set(qs)


def test_each_query_builds_a_dataframe(spark, sf_dir, tmp_path, monkeypatch):
    """Every entry builds. Each streaming and custom-source entry also
    removes every file it wrote before it returns, and its result still
    collects; no entry leaves a temp view behind except sqltext's
    documented table views."""
    from watermill_kinesis_spark.sources.tables import TABLE_NAMES
    from watermill_kinesis_spark.streaming.pbcompat import ensure_protobuf_on_workers

    def temp_views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    mod = _entry_module()
    ensure_protobuf_on_workers(spark)  # its vendored zip lives with the session
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    views_before = temp_views()
    for name, fn in mod.queries().items():
        files_before = set(os.listdir(tmp_path))
        df = fn(spark, sf_dir)
        assert df.schema is not None, name
        if fn.__module__.endswith((".streaming_batch", ".custom_source")):
            left = set(os.listdir(tmp_path)) - files_before
            assert not left, f"{name} left {sorted(left)}"
            df.collect()
    added = temp_views() - views_before
    assert added <= set(TABLE_NAMES), sorted(added - set(TABLE_NAMES))
