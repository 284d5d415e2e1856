"""Generate CATALOG.md: the full operator inventory, one row per
registered query, straight from the registry — the artifact for
checking SURVEY.md §2 coverage line by line.

    python tools/gen_catalog.py
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from watermill_kinesis_spark.registry import all_specs  # noqa: E402


def first_sentence(doc: str) -> str:
    text = " ".join(doc.split())
    m = re.search(r"(.+?[.!?])(\s|$)", text)
    s = m.group(1) if m else text
    return s[:160] + ("…" if len(s) > 160 else "")


def main() -> None:
    specs = all_specs()
    lines = [
        "# CATALOG — registered operator queries",
        "",
        "Auto-generated by tools/gen_catalog.py from the live registry;",
        "regenerate after adding operators. `oracle` = hash-compared",
        "against DuckDB at sf0.01 by the driver; `rows-only` = genuinely",
        "non-SQL-expressible semantics (invariants pinned in tests/).",
        "",
        f"{len(specs)} queries: "
        f"{sum(1 for s in specs.values() if s.oracle)} oracle-checked, "
        f"{sum(1 for s in specs.values() if not s.oracle)} rows-only.",
        "",
        "| # | query | check | module | summary |",
        "|---|---|---|---|---|",
    ]
    for i, (name, spec) in enumerate(specs.items(), 1):
        mod = spec.fn.__module__.rsplit(".", 1)[-1]
        check = "oracle" if spec.oracle else "rows-only"
        doc = first_sentence(spec.doc or "").replace("|", "\\|")
        lines.append(f"| {i} | `{name}` | {check} | {mod} | {doc} |")
    with open(os.path.join(REPO, "CATALOG.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote CATALOG.md ({len(specs)} queries)")


if __name__ == "__main__":
    main()
