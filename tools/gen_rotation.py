"""Regenerate the registry._PRIORITY staleness rotation (VERDICT task,
every round).

The driver's budget-capped correctness gate samples a ~50-entry PREFIX
of ``_PRIORITY``, so the prefix is the regression window. Policy
(VERDICT r11 task 8, r12 task 3):

  1. CHANGED entries first — operators whose code changed this round,
     passed via --changed; the rotation window structurally misses
     them otherwise.
  2. Then every oracle-backed entry ordered by the round it LAST went
     driver-green, ascending (recomputed from CORRECTNESS_r*.json,
     full pass = rows+schema+hash, no err). Entries never seen by the
     driver (new this round) count as last-green 0 — stalest.
     Ties keep their current _PRIORITY relative order.
  3. Rows-only entries follow at the back in their current order
     (sampling one yields no value-regression signal; their
     invariants are pytest-enforced).

Prints the new tuple body to stdout plus a histogram to stderr; paste
the body into registry.py between the ROTATION markers (or pipe with
--patch to rewrite registry.py in place).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from watermill_kinesis_spark.registry import _PRIORITY, all_specs  # noqa: E402


def full_pass(v: dict) -> bool:
    return bool(
        v.get("rows_match")
        and v.get("schema_match")
        and (v.get("hash_match") in (True, None))
        and not v.get("err")
    )


def main() -> None:
    changed = []
    args = sys.argv[1:]
    patch = "--patch" in args
    if "--changed" in args:
        i = args.index("--changed")
        changed = [a for a in args[i + 1 :] if not a.startswith("--")]

    specs = all_specs()
    oracle_backed = [n for n, s in specs.items() if s.oracle]
    rows_only = [n for n, s in specs.items() if not s.oracle]

    last_green: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)", path).group(1))
        d = json.load(open(path))
        for name, v in d.items():
            if name in specs and full_pass(v):
                last_green[name] = max(last_green.get(name, 0), rnd)

    cur_pos = {n: i for i, n in enumerate(_PRIORITY)}
    pos = lambda n: cur_pos.get(n, 10**9)  # noqa: E731

    changed_set = [n for n in changed if n in specs]
    rest = [n for n in oracle_backed if n not in changed_set]
    rest.sort(key=lambda n: (last_green.get(n, 0), pos(n)))
    ordered = changed_set + rest + sorted(rows_only, key=pos)

    hist: dict[int, int] = {}
    for n in oracle_backed:
        hist[last_green.get(n, 0)] = hist.get(last_green.get(n, 0), 0) + 1
    print(f"# oracle-backed: {len(oracle_backed)}, rows-only: "
          f"{len(rows_only)}; last-green histogram: "
          f"{dict(sorted(hist.items()))}", file=sys.stderr)
    win = ordered[:50]
    print(f"# 50-prefix = {len(changed_set)} changed + stalest "
          f"(last-green <= r{max(last_green.get(n, 0) for n in win)})",
          file=sys.stderr)

    body = "".join(f'    "{n}",\n' for n in ordered)
    if patch:
        registry = os.path.join(REPO, "watermill_kinesis_spark", "registry.py")
        src = open(registry).read()
        pat = re.compile(
            r"(# ---- ROTATION BODY START \(gen_rotation\.py\) ----\n)"
            r".*?"
            r"(    # ---- ROTATION BODY END ----\n)",
            re.S,
        )
        if not pat.search(src):
            sys.exit("ROTATION markers not found in registry.py")
        open(registry, "w").write(
            pat.sub(lambda m: m.group(1) + body + m.group(2), src)
        )
        print("registry.py patched", file=sys.stderr)
    else:
        sys.stdout.write(body)


if __name__ == "__main__":
    main()
