"""A run's input tables and the expected results of its queries, made
in a child process, so that the driver's memory high-water mark holds
none of the table building or the oracle's work.

    python3 perfbench/inputs.py <seed> <data_dir> <oracle_json> <table,...> [<query>...]

Writes the named tables with ``datagen.write``, then, for each named query
that has an oracle in ``registry.oracle_sql()``, runs the oracle on
DuckDB over those tables and writes ``{query: hash}`` to
``oracle_json``, with the canonicalization of ``tools/check_oracle.py``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: longest a child may take to write the inputs
TIMEOUT_S = 120


def oracle_hash(df) -> list:
    """Canonical hash of a pandas result; equal for equal results."""
    from tools.check_oracle import hash_df

    return list(hash_df(df))


def make(ctx, data_dir: str, tables, queries=()) -> dict[str, list]:
    """Run the child; returns ``{query: oracle hash}``."""
    out = ctx.path("oracle.json")
    proc = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), str(ctx.seed), data_dir, out, ",".join(tables), *queries]
    )
    ctx.rss.exclude.add(proc.pid)
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code != 0:
        raise RuntimeError(f"inputs child exited with {code}")
    with open(out) as f:
        return json.load(f)


def main(argv: list[str]) -> int:
    sys.path.insert(0, ROOT)
    import duckdb

    from perfbench import datagen
    from watermill_kinesis_spark import registry

    seed, data_dir, out, tables, queries = int(argv[0]), argv[1], argv[2], argv[3].split(","), argv[4:]
    datagen.write(seed, data_dir, tables)
    oracles = registry.oracle_sql() if queries else {}
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    hashes = {q: oracle_hash(con.execute(oracles[q]).fetchdf()) for q in queries if q in oracles}
    with open(out, "w") as f:
        json.dump(hashes, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
