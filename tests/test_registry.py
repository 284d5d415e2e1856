"""Registry-level consistency guards — fast (no SparkSession), they
catch wiring mistakes before any engine runs."""

from __future__ import annotations

import re

from watermill_kinesis_spark.registry import _GATED, _PRIORITY, all_specs
from watermill_kinesis_spark.sources.tables import TABLE_NAMES


def test_priority_covers_registry_exactly():
    specs = all_specs()
    assert len(_PRIORITY) == len(set(_PRIORITY)), "duplicate priority entries"
    missing = [n for n in specs if n not in _PRIORITY]
    # _GATED names register only when their optional dependency imports
    # (e.g. transformWithState needs google.protobuf) — prioritized
    # unconditionally, tolerated here when gated-absent
    stale = [n for n in _PRIORITY if n not in specs and n not in _GATED]
    assert not missing, f"registered but not prioritized: {missing}"
    assert not stale, f"prioritized but not registered: {stale}"
    assert all(g in _PRIORITY for g in _GATED), "gated entries must be prioritized"


def test_every_oracle_references_known_tables_only():
    """Oracle SQL may only read the driver's pre-registered views."""
    known = set(TABLE_NAMES)
    # words following FROM/JOIN that look like bare table identifiers
    pat = re.compile(r"\b(?:FROM|JOIN)\s+([a-z_][a-z0-9_]*)\b", re.IGNORECASE)
    for name, spec in all_specs().items():
        if not spec.oracle:
            continue
        sql_no_strings = re.sub(r"--[^\n]*", "", spec.oracle)
        sql_no_strings = re.sub(r"'[^']*'", "''", sql_no_strings)
        ctes = set(
            m.group(1).lower()
            for m in re.finditer(
                r"\b([a-z_][a-z0-9_]*)\s*(?:\([^)]*\))?\s+AS\s*\(",
                sql_no_strings,
                re.IGNORECASE,
            )
        )
        for m in pat.finditer(sql_no_strings):
            t = m.group(1).lower()
            if t in known or t in ctes:
                continue
            # subquery openers / functions are not identifiers here
            if t in ("unnest", "range", "generate_series", "values", "lateral"):
                continue
            raise AssertionError(f"{name}: oracle references unknown table {t!r}")


def test_docstrings_present():
    for name, spec in all_specs().items():
        assert spec.doc and len(spec.doc.strip()) > 20, f"{name} lacks a docstring"


def test_inventory_docs_match_live_registry():
    """CATALOG.md/README.md/SURVEY.md inventory counts, and CATALOG's
    per-entry module cells, drift from the live registry unless pinned.
    Pin them to `all_specs()` so a new or moved operator cannot land
    without regenerating the docs (`tools/gen_catalog.py`)."""
    import os

    specs = all_specs()
    n = len(specs)
    n_oracle = sum(1 for s in specs.values() if s.oracle)
    n_rows = n - n_oracle
    root = os.path.join(os.path.dirname(__file__), "..")

    with open(os.path.join(root, "CATALOG.md")) as f:
        catalog = f.read()
    m = re.search(r"(\d+) queries: (\d+) oracle-checked, (\d+) rows-only", catalog)
    assert m, "CATALOG.md header line missing"
    assert tuple(map(int, m.groups())) == (n, n_oracle, n_rows), (
        f"CATALOG.md says {m.groups()}, live registry is "
        f"({n}, {n_oracle}, {n_rows}) — rerun tools/gen_catalog.py"
    )
    # each row's module cell names the module that holds the entry now
    rows = re.findall(r"^\| \d+ \| `(\w+)` \| [\w-]+ \| (\w+) \|", catalog, re.M)
    live = {name: s.fn.__module__.rsplit(".", 1)[-1] for name, s in specs.items()}
    stale = {k: v for k, v in rows if live.get(k) != v}
    assert len(rows) == n and not stale, (
        f"CATALOG.md module cells disagree with the registry: {stale} "
        "— rerun tools/gen_catalog.py"
    )

    with open(os.path.join(root, "README.md")) as f:
        readme = f.read()
    m = re.search(
        r"inventory is (\d+) registered queries \((\d+) value-checked",
        readme,
    )
    assert m, "README.md inventory line missing"
    assert tuple(map(int, m.groups())) == (n, n_oracle), (
        f"README.md says {m.groups()}, live registry is ({n}, {n_oracle})"
    )
    # the rows-only count on the same sentence drifted silently in r7
    # (review finding): pin it too
    m = re.search(r"sf0\.1, (\d+) rows-only", readme)
    assert m and int(m.group(1)) == n_rows, (
        f"README.md rows-only says {m and m.group(1)}, live is {n_rows}"
    )

    with open(os.path.join(root, "SURVEY.md")) as f:
        survey = f.read()
    m = re.search(
        r"(\d+) registered queries, (\d+) oracle-checked.*?(\d+) rows-only",
        survey,
    )
    assert m, "SURVEY.md §2-D inventory line missing"
    assert tuple(map(int, m.groups())) == (n, n_oracle, n_rows), (
        f"SURVEY.md says {m.groups()}, live registry is "
        f"({n}, {n_oracle}, {n_rows})"
    )
