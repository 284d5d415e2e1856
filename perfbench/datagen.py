"""Seeded input tables for the benchmark.

Writes the tables the registry reads (``sources.tables.TABLE_NAMES``)
as one parquet file each, with the column names, types, row counts and
value domains of the engine's sf0.1 test tables. Each table draws from
its own ``numpy`` stream of ``--seed``, so one seed gives one set of
inputs whichever tables a workload writes.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: row counts of the engine's sf0.1 tables
SF01_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"]
_PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "screw"]
_EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_DAY_US = 86_400_000_000


def _us(year: int, month: int, day: int) -> int:
    return int(np.datetime64(f"{year:04d}-{month:02d}-{day:02d}", "us").astype(np.int64))


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng: np.random.Generator, n: int) -> dict:
    words = np.array(_VOCAB)
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    # ~1% exact copies and ~3% one-word edits, so the dedup operators
    # find real groups
    for i in rng.choice(n, n // 100, replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    for i in rng.choice(n, 3 * n // 100, replace=False):
        toks = texts[int(rng.integers(0, n))].split()
        toks[int(rng.integers(0, len(toks)))] = "dup"
        texts[i] = " ".join(toks)
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), n)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, dim))
    vecs = centers[labels] + rng.normal(0.0, 1.0, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), type=pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": labels,
        }
    )


def _region(rng):
    return {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS}


def _nation(rng):
    return {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }


def _customer(rng):
    n = SF01_ROWS["customer"]
    return {
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": _names("Customer", n),
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n)],
    }


def _supplier(rng):
    n = SF01_ROWS["supplier"]
    return {
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": _names("Supplier", n),
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    }


def _part(rng):
    n = SF01_ROWS["part"]
    return {
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
        "p_type": [_PART_TYPES[i] for i in rng.integers(0, 6, n)],
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2),
    }


def _orders(rng):
    n = SF01_ROWS["orders"]
    return {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, SF01_ROWS["customer"], n).astype(np.int64),
        "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
        "o_orderdate": _ts(_us(1995, 1, 1) + rng.integers(0, 2404, n) * _DAY_US),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n)],
    }


def _lineitem(rng):
    n = SF01_ROWS["lineitem"]
    flags = rng.integers(0, 6, n)
    return {
        "l_orderkey": rng.integers(0, SF01_ROWS["orders"], n).astype(np.int64),
        "l_partkey": rng.integers(0, SF01_ROWS["part"], n).astype(np.int64),
        "l_suppkey": rng.integers(0, SF01_ROWS["supplier"], n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[flags // 2],
        "l_linestatus": np.array(["O", "F"])[flags % 2],
        "l_shipdate": _ts(_us(1995, 1, 1) + rng.integers(1, 2500, n) * _DAY_US),
    }


def _events(rng):
    n = SF01_ROWS["events"]
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(np.sort(_us(2024, 1, 1) + rng.integers(0, 30 * _DAY_US, n))),
        "user_id": rng.integers(0, 1500, n).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.gamma(2.0, 50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


_TABLES = {
    "region": _region,
    "nation": _nation,
    "customer": _customer,
    "supplier": _supplier,
    "part": _part,
    "orders": _orders,
    "lineitem": _lineitem,
    "events": _events,
    "documents": lambda rng: _documents(rng, SF01_ROWS["documents"]),
    "embeddings": lambda rng: _embeddings(rng, SF01_ROWS["embeddings"]),
}


def table(seed: int, name: str) -> pa.Table:
    """One table; each table draws from its own stream of the seed."""
    rng = np.random.default_rng([seed, zlib.crc32(name.encode())])
    cols = _TABLES[name](rng)
    return cols if isinstance(cols, pa.Table) else pa.table(cols)


def write(seed: int, out_dir: str, names=tuple(_TABLES)) -> str:
    """Write tables to ``out_dir/<name>.parquet``; returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        pq.write_table(table(seed, name), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
