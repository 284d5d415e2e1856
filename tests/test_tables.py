"""``sources/tables.adaptive_partitions``: the one partition-sizing policy
of the operator layer.

- the on-disk size is stat'd through the Hadoop FileSystem API, so a
  ``file://`` URI sizes like the plain path;
- every fan-out site plans the same partition count as the two rules it
  replaced (the kernel-site clamp and the gram-explode rule);
- past ``dp`` × 128 MiB the count grows beyond the core count.
"""

from __future__ import annotations

import os
import types

import pytest

from watermill_kinesis_spark.sources import tables

#: (table, expand) of each former ``adaptive_partitions`` site
KERNEL_SITES = (
    ("events", 10),  # messages: events replay; windows arrival inversions
    ("documents", 7),  # messages, dedup shingle rows, frequency
    ("lineitem", 2),  # windows
    ("documents", 10 * 5),  # dedup shingle exchanges
    ("documents", 10),  # fanned_documents (dedup._simhash_fps before)
    ("documents", 2),  # dedup simhash audit
    ("documents", 14),  # text skip-gram co-occurrence
    ("documents", 75),  # dedup bloom decontamination
    ("lineitem", 0.5),  # graph (two sites)
    ("embeddings", 1),  # tables.embedding_vectors
)

#: the four pre-explode doc repartitions of dedup's substring family
GRAM_SITE = ("documents", 10 * 24)

SCALES = ("sf0.001", "sf0.01", "sf0.1")


def _session(dp: int):
    """A stand-in session: ``defaultParallelism`` only. It has no JVM,
    so ``_input_bytes`` takes its driver-local stat fallback."""
    return types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(defaultParallelism=dp)
    )


def _former_kernel_rule(size, expand, dp):
    """The kernel-site clamp this policy replaced."""
    if size is None:
        return dp
    want = -(-int(size * expand) // (512 * 1024))
    return max(2, min(dp, want))


def _former_gram_rule(size, dp):
    """The gram-explode rule this policy replaced."""
    if size is None:
        return 8 * dp
    return max(dp, min(64 * dp, size * 10 * 24 // (128 << 20) + 1))


def _scale_dirs(sf_dir):
    root = os.path.dirname(sf_dir.rstrip("/"))
    dirs = [os.path.join(root, sf) for sf in SCALES]
    present = [d for d in dirs if os.path.isdir(d)]
    if not present:
        pytest.skip("no testdata scales present")
    return present


def test_adaptive_partitions_remote_fs_aware(spark, sf_dir):
    """Sizing must resolve the input through the Hadoop FileSystem API,
    not driver-local os.path: a ``file://`` URI is the mock remote
    store — os.path cannot stat it, Hadoop FS can — so the URI spelling
    must return the SAME geometry-derived count as the plain local
    path. A nonexistent path falls back to defaultParallelism."""
    dp = spark.sparkContext.defaultParallelism
    for expand in (1, 10 * 24):
        local = tables.adaptive_partitions(spark, sf_dir, "documents", expand=expand)
        via_uri = tables.adaptive_partitions(
            spark, "file://" + sf_dir, "documents", expand=expand
        )
        assert via_uri == local
        assert 2 <= local <= 64 * dp
    assert tables._input_bytes(spark, "file://" + sf_dir, "documents") == (
        os.path.getsize(os.path.join(sf_dir, "documents.parquet"))
    )
    assert tables.adaptive_partitions(spark, "/nonexistent/nowhere", "documents") == dp


def test_every_site_keeps_its_partition_count(sf_dir):
    """At dp=4 every former site plans the count of the rule it used."""
    dp = 4
    for d in _scale_dirs(sf_dir):
        for table, expand in KERNEL_SITES + (GRAM_SITE,):
            size = os.path.getsize(os.path.join(d, f"{table}.parquet"))
            want = (
                _former_gram_rule(size, dp)
                if (table, expand) == GRAM_SITE
                else _former_kernel_rule(size, expand, dp)
            )
            got = tables.adaptive_partitions(_session(dp), d, table, expand=expand)
            assert got == want, (d, table, expand)


def test_task_ceiling_grows_past_the_core_count(monkeypatch):
    """58 MiB of documents (the 100× replica) explode to ~13 GiB of gram
    rows: the 128 MiB-per-task term sets the count, as the gram rule
    did."""
    size = 58 << 20
    monkeypatch.setattr(tables, "_input_bytes", lambda *_: size)
    got = tables.adaptive_partitions(_session(4), "_", *GRAM_SITE)
    assert got == _former_gram_rule(size, 4) == 109
    # capped at 64·dp however large the estimate
    monkeypatch.setattr(tables, "_input_bytes", lambda *_: 1 << 40)
    assert tables.adaptive_partitions(_session(4), "_", *GRAM_SITE) == 64 * 4


def test_unstattable_table_falls_back_to_the_core_count(monkeypatch):
    monkeypatch.setattr(tables, "_input_bytes", lambda *_: None)
    for expand in (1, 10 * 24):
        assert tables.adaptive_partitions(_session(4), "_", "documents", expand=expand) == 4
