"""Parity pins for the certification instrument's vectorized canon
fast path (tools/check_oracle.py).

The 100× replica sweep hash-compares 10^7-10^8-row pair outputs; the
per-cell ``canon_cell`` python map was the dominant instrument cost,
so eligible dtypes (numpy ints, float64) take a vectorized
``astype(str)`` path. These tests pin the ONLY property that makes
that optimization legal: elementwise identity with ``canon_cell`` on
every eligible dtype, including the adversarial float spellings
(nan/±inf/-0.0/shortest-repr extremes), and fallback equivalence for
everything else. A divergence here would silently change certified
digests, so the pin runs in the default suite (no Spark needed).
"""

from __future__ import annotations

import importlib.util
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

_spec = importlib.util.spec_from_file_location(
    "check_oracle",
    Path(__file__).resolve().parents[1] / "tools" / "check_oracle.py",
)
co = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(co)


def _slow(s: pd.Series) -> pd.Series:
    return s.map(co.canon_cell).astype(str)


@pytest.fixture(scope="module")
def rng():
    return np.random.default_rng(1729)


def test_int_dtypes_identical(rng):
    for dt in (np.int8, np.int32, np.int64, np.uint8, np.uint32, np.uint64):
        info = np.iinfo(dt)
        vals = np.concatenate(
            [
                rng.integers(info.min, info.max, 5000, dtype=dt, endpoint=True),
                np.array([info.min, info.max, 0, 1], dtype=dt),
            ]
        )
        s = pd.Series(vals)
        assert (co._canon_str_series(s) == _slow(s)).all(), dt


def test_float64_identical_including_special_values(rng):
    vals = np.concatenate(
        [
            rng.random(5000),
            rng.standard_normal(5000) * 1e18,
            rng.standard_normal(5000) * 1e-18,
            rng.integers(-(10**9), 10**9, 2000).astype(np.float64),
            np.array(
                [0.0, -0.0, np.nan, np.inf, -np.inf, 1.0, 1e20, 1e-5,
                 2.0**53 + 2, 123456789.123456789, 0.1, 2.675]
            ),
        ]
    )
    s = pd.Series(vals)
    assert (co._canon_str_series(s) == _slow(s)).all()


def test_float32_and_objects_fall_back():
    # float32 widens under float(); the fast path must NOT claim it.
    f32 = pd.Series(np.array([0.1, 1.5, -2.25], dtype=np.float32))
    assert (co._canon_str_series(f32) == _slow(f32)).all()
    obj = pd.Series(["a", None, b"\x00\xff", [1.5, 2.0], {"k": 1}], dtype=object)
    assert (co._canon_str_series(obj) == _slow(obj)).all()


def test_hash_df_digest_matches_pure_slow_recompute(rng):
    df = pd.DataFrame(
        {
            "b": rng.integers(0, 10**6, 20000),
            "a": rng.random(20000),
            "c": rng.integers(0, 100, 20000).astype(np.uint32),
        }
    )
    cols, n, fast_digest = co.hash_df(df)
    assert cols == ["a", "b", "c"] and n == len(df)
    joined = _slow(df["a"])
    for c in ["b", "c"]:
        joined = joined + "\x1f" + _slow(df[c])
    slow_digest = int(
        pd.util.hash_pandas_object(joined, index=False)
        .to_numpy(dtype=np.uint64)
        .sum(dtype=np.uint64)
    )
    assert fast_digest == slow_digest


def test_hash_df_order_insensitive(rng):
    df = pd.DataFrame({"x": rng.integers(0, 10**6, 1000), "y": rng.random(1000)})
    shuffled = df.sample(frac=1.0, random_state=7).reset_index(drop=True)
    assert co.hash_df(df) == co.hash_df(shuffled)
