"""Local stand-in for the driver's correctness gate.

Runs every registered query on Spark and its DuckDB oracle at the given
sf_dir, then compares row count, sorted column names, and an
order-insensitive canonicalization of all values (strict: floats must be
bit-identical). Usage:

    python tools/check_oracle.py [sf_dir] [name ...]

Env toggles (both driver-accuracy modes, combinable):
  SPARK_GRAFT_VANILLA=1       plain SparkSession, none of session.py's tuning
  SPARK_GRAFT_VANILLA_CORES=N vanilla core count (default 8; 4 = 256 MB/core)
  SPARK_GRAFT_VANILLA_MEM=M   vanilla driver heap (default 1g)
  SPARK_GRAFT_DRIVER_CANON=1  sort RAW pandas rows before stringifying,
                              mirroring the gate's _canon (catches
                              unhashable-cell outputs like r4's
                              embedding_normalize array column)
  SPARK_GRAFT_HASH_ROWS=N     outputs larger than N rows compare by an
                              order-insensitive per-row hash SUM instead
                              of materialized sorted-tuple lists (default
                              50000; 0 disables). The cell canon is
                              byte-identical to the exact path — only the
                              row assembly is vectorized and the compare
                              is an aggregate — so a value divergence
                              still fails; what's lost is only the
                              first-mismatch row dump. This is what makes
                              a FULL 10x replica sweep tractable: the r10
                              close-out measured 540 s/entry on 1M-row
                              as-of joins, ~all of it the row-by-row
                              ``.iloc`` tuple build, not engine time
                              (VERDICT r10 task 1).
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback
from decimal import Decimal

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from watermill_kinesis_spark.registry import all_specs  # noqa: E402
from watermill_kinesis_spark.session import get_spark  # noqa: E402
from watermill_kinesis_spark.sources.tables import TABLE_NAMES  # noqa: E402


def canon_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, (bytes, bytearray)):
        return "0x" + bytes(v).hex()
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        return repr(f)
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return str(int(v))
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, pd.Timestamp):
        if pd.isna(v):
            return "∅"
        return v.isoformat()
    if isinstance(v, np.datetime64):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={canon_cell(x)}" for k, x in sorted(v.items())) + "}"
    if v is pd.NaT or (isinstance(v, float) and pd.isna(v)):
        return "∅"
    return str(v)


def canon_df(df: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    cols = sorted(df.columns)
    rows = [
        tuple(canon_cell(df.iloc[i][c]) for c in cols) for i in range(len(df))
    ]
    rows.sort()
    return cols, rows


def driver_canon_df(df: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    """Driver-accurate canonicalization: sort the RAW pandas rows first
    (``sort_values`` over every column, exactly like the gate's
    ``_canon``), stringify only afterwards.  A top-level list/ndarray
    cell makes pandas' lexsort raise ``TypeError: unhashable type`` —
    the r4 ``embedding_normalize`` failure class — so running the sweep
    in this mode catches harness-compat defects locally that the
    stringify-first :func:`canon_df` cannot see."""
    cols = sorted(df.columns)
    df = df[cols]
    if len(df):
        df = df.sort_values(by=cols, kind="mergesort")  # may raise: that IS the check
    rows = [
        tuple(canon_cell(df.iloc[i][c]) for c in cols) for i in range(len(df))
    ]
    rows.sort()
    return cols, rows


def _canon_str_series(s: pd.Series) -> pd.Series:
    """Canonical string form of one column, vectorized where the dtype
    makes it provably identical to the per-cell :func:`canon_cell`:

    - numpy signed/unsigned ints (no NaN possible): ``str(int(v))`` ==
      ``astype(str)`` elementwise.
    - float64: ``canon_cell`` returns ``repr(float(v))``; numpy's
      float64 str IS the shortest round-trip repr (same algorithm since
      numpy 1.14), including ``nan``, ``-0.0`` and ``inf`` spellings,
      so ``astype(str)`` is elementwise identical. float32 is NOT
      eligible (``float(np.float32(x))`` widens before repr).

    Everything else (objects, lists, decimals, timestamps, nullable
    extension dtypes) falls back to the exact per-cell map. The 100×
    replica compares hash 10^8-row pair outputs — the per-cell python
    map was the dominant instrument cost (~6 s/M rows; the vector path
    is ~20× that throughput)."""
    dt = s.dtype
    if isinstance(dt, np.dtype):
        if dt.kind in ("i", "u"):
            return s.astype(str)
        if dt == np.float64:
            return s.astype(str)
    return s.map(canon_cell).astype(str)


def hash_df(df: pd.DataFrame) -> tuple[list[str], int, int]:
    """Order-insensitive digest of a large result: every cell goes
    through the SAME :func:`canon_cell` as the exact path (so float
    repr, NULL, binary-hex and timestamp spellings cannot diverge
    between modes), the canonical strings of a row are joined with an
    out-of-alphabet separator, each row string is hashed
    (``pd.util.hash_pandas_object``, fixed default key — deterministic
    across processes), and the row hashes are SUMMED mod 2^64. A sum
    is order-insensitive, so no O(n log n) sort and no O(n) python
    tuple list is ever built — the 540 s/entry instrument cost of the
    r10 close-out drops to the pandas ``map`` of the canon itself."""
    cols = sorted(df.columns)
    if not len(df):
        return cols, 0, 0
    joined = _canon_str_series(df[cols[0]])
    for c in cols[1:]:
        joined = joined + "\x1f" + _canon_str_series(df[c])
    hashes = pd.util.hash_pandas_object(joined, index=False).to_numpy(
        dtype=np.uint64
    )
    total = int(hashes.sum(dtype=np.uint64))
    return cols, len(df), total


def oracle_session(app: str):
    """The session every oracle tool runs on: the engine's tuned
    ``get_spark(app)``, or with ``SPARK_GRAFT_VANILLA`` set the
    driver-accurate plain session with NONE of session.py's tuning,
    catching hidden config coupling."""
    if not os.environ.get("SPARK_GRAFT_VANILLA"):
        return get_spark(app)
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(
            # SPARK_GRAFT_VANILLA_CORES: heap-per-core knob for
            # replica-scale sweeps — the default local[8] on the
            # 1 GiB vanilla heap is 128 MB/core, BELOW any real
            # deployment; heavy entries document their floor
            f"local[{os.environ.get('SPARK_GRAFT_VANILLA_CORES', '8')}]"
        )
        .appName(f"{app}-vanilla")
        .config("spark.ui.showConsoleProgress", "false")
        .config(
            # SPARK_GRAFT_VANILLA_MEM: heap for replica-scale solo
            # certification runs. Default stays the gate-accurate
            # 1g; the 100x pair-dense dedup faces are certified at
            # an explicitly recorded larger heap (SCALE.md r13) —
            # a single-node stand-in for the executor memory any
            # real deployment of those shuffles would have.
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_VANILLA_MEM", "1g"),
        )
        .getOrCreate()
    )


def main() -> int:
    argv = sys.argv[1:]
    sf_dir = argv[0] if argv and "/" in argv[0] else "/root/testdata/sf0.01"
    names = [a for a in argv if "/" not in a]

    specs = all_specs()
    if names:
        specs = {n: specs[n] for n in names}

    spark = oracle_session("check-oracle")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    n_pass = n_fail = n_rows_only = 0
    for name, spec in specs.items():
        t0 = time.time()
        try:
            sdf = spec.fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL  {name}: spark query raised")
            traceback.print_exc()
            n_fail += 1
            continue
        if spec.oracle is None:
            print(f"ROWS  {name}: rows={len(sdf)} cols={sorted(sdf.columns)} ({time.time()-t0:.1f}s)")
            n_rows_only += 1
            continue
        try:
            odf = con.execute(spec.oracle).fetchdf()
        except Exception:
            print(f"FAIL  {name}: oracle SQL raised")
            traceback.print_exc()
            n_fail += 1
            continue
        hash_rows = int(os.environ.get("SPARK_GRAFT_HASH_ROWS", "50000"))
        if hash_rows and max(len(sdf), len(odf)) > hash_rows:
            try:
                scols, snum, shash = hash_df(sdf)
                ocols, onum, ohash = hash_df(odf)
            except Exception:
                print(f"FAIL  {name}: hash canonicalization raised")
                traceback.print_exc()
                n_fail += 1
                continue
            msgs = []
            if scols != ocols:
                msgs.append(f"cols spark={scols} oracle={ocols}")
            if snum != onum:
                msgs.append(f"rowcount spark={snum} oracle={onum}")
            if not msgs and shash != ohash:
                msgs.append(f"value-hash spark={shash:016x} oracle={ohash:016x}")
            if msgs:
                print(f"FAIL  {name}: " + " | ".join(msgs))
                n_fail += 1
            else:
                print(
                    f"PASS  {name}: rows={snum} hash={shash:016x} "
                    f"(hash-mode, {time.time()-t0:.1f}s)"
                )
                n_pass += 1
            continue
        _canon = (
            driver_canon_df
            if os.environ.get("SPARK_GRAFT_DRIVER_CANON")
            else canon_df
        )
        try:
            scols, srows = _canon(sdf)
            ocols, orows = _canon(odf)
        except Exception:
            print(f"FAIL  {name}: canonicalization raised (driver-compat defect)")
            traceback.print_exc()
            n_fail += 1
            continue
        ok = True
        msgs = []
        if scols != ocols:
            ok = False
            msgs.append(f"cols spark={scols} oracle={ocols}")
        if len(srows) != len(orows):
            ok = False
            msgs.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if ok and srows != orows:
            ok = False
            bad = [
                (i, a, b)
                for i, (a, b) in enumerate(zip(srows, orows))
                if a != b
            ][:3]
            msgs.append(f"{sum(a != b for a, b in zip(srows, orows))} mismatched rows; first: {bad}")
        if ok:
            print(f"PASS  {name}: rows={len(srows)} ({time.time()-t0:.1f}s)")
            n_pass += 1
        else:
            print(f"FAIL  {name}: " + " | ".join(msgs))
            n_fail += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
