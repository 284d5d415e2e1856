"""Generate PLANS.md: a physical-plan audit of the headline queries.

For each audited query this extracts the plan properties that decide
100 TB behavior — exchange count, broadcast usage, parquet pushdown,
and the dangerous shapes (global sorts, single-partition exchanges,
nested-loop joins, windows partitioned by a low-cardinality enum over
raw rows) — so plan regressions are reviewable in diffs, not just
caught by tests/test_plans.py. Plans are built, never executed: under
AQE the unexecuted plan carries no whole-stage-codegen ``*(n)``
markers, so codegen coverage is checked after execution by
tests/test_plans.py instead.

    python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from watermill_kinesis_spark.registry import all_specs  # noqa: E402
from watermill_kinesis_spark.session import get_spark  # noqa: E402

# The audit covers the ENTIRE registry — every entry in all_specs(),
# in priority order. The red-flag assertions are cheap and the newest
# entries are where plan regressions land, so nothing is sampled.
AUDITED = None  # None = all registered queries


def _bad_single_partition(plan: str) -> bool:
    """A SinglePartition exchange is benign when it consumes the output
    of an upstream AGGREGATION — scalar-agg partial merges (one row per
    upstream partition) and global passes over group-bounded relations
    (e.g. pareto_frontier's suffix-max window over per-DATE maxima:
    |dates| rows at any corpus size). Those carry constant or
    group-bounded data volume at every scale. It is a red flag anywhere
    else — a global sort or global window over ROW-scale data."""
    for m in re.finditer(r"Exchange SinglePartition", plan):
        below = plan[m.end() : m.end() + 400]
        if "HashAggregate" not in below and "partial_" not in below:
            return True
    return False


#: Columns known to be small fixed enums of the data model (type codes,
#: priority/status classes and their registered aliases). A window
#: PARTITIONED solely by these collapses parallelism to |enum| tasks.
ENUM_PARTITION_COLS = {
    "event_type",
    "o_orderpriority",
    "o_orderstatus",
    "l_returnflag",
    "l_linestatus",
    "grp",  # evaluation-family alias of o_orderpriority
    "t1",
    "t2",  # ks_drift_matrix pair axis (event_type × event_type)
    "bin",
    "decile",  # fixed 10-tile report axes
}


def _bad_enum_window(plan: str) -> bool:
    """Round-7 guard (VERDICT r6 What's-wrong #3): a Window whose
    partition keys are ALL known low-cardinality enum columns runs each
    group's sort/scan in ONE task — a parallelism collapse at scale —
    UNLESS its input is pre-aggregated (an Aggregate below the window
    means the window's input is group/cell-bounded, e.g. a cumulative
    sum over 10 deciles per group, where the single-task scan touches a
    bounded row count at any corpus size). This is the defect class the
    r6 single-partition/nested-loop columns could not see: such plans
    show '1 shuffle, pushdown ok' and still die at 100 TB."""
    for m in re.finditer(r"Window \[", plan):
        line_end = plan.find("\n", m.start())
        if line_end == -1:
            line_end = len(plan)
        line = plan[m.start() : line_end]
        groups = re.findall(r"\[([^\]]*)\]", line)
        if len(groups) < 2:
            continue
        # the node prints [exprs], [partSpec], [orderSpec] — but an
        # EMPTY order spec is elided entirely (an unordered
        # count-over-partition window prints only two groups), so the
        # partition spec is the last group unless that group is an
        # order spec (ASC/DESC markers)
        part_spec = groups[-2] if len(groups) >= 3 else groups[-1]
        if " ASC" in part_spec or " DESC" in part_spec:
            continue  # order-only (global) window — single-partition's beat
        part_cols = {c for c in re.findall(r"(\w+)#\d+", part_spec)}
        if not part_cols or not part_cols <= ENUM_PARTITION_COLS:
            continue
        below = plan[line_end : line_end + 900]
        if "HashAggregate" in below or "SortAggregate" in below or (
            "ObjectHashAggregate" in below
        ):
            continue  # pre-aggregated input: bounded rows per group
        if "WindowGroupLimit" in below:
            # a rank-filter pushed below the shuffle: only k rows per
            # group per input partition reach the window — the window
            # input is k·n_partitions rows per group, not N/|enum|
            continue
        return True
    return False


#: elements above which an array literal embedded in a plan is a red
#: flag: a plan literal ships inside EVERY task closure, so anything
#: that grows with data cardinality (the pre-r8 bloom_fpp_audit packed
#: a bloom sized 16 bits per distinct member — ~2 GB at 1e9 keys) is a
#: driver/task-bloat bug. 16384 longs = 128 KiB leaves headroom for
#: legitimate bounded sketches (decontaminate_bloom's 1024-long bloom,
#: model-artifact centroid matrices) while catching anything sized
#: from row counts. VERDICT r7 What's-wrong #2.
BIG_LITERAL_ELEMS = 16384

#: operators whose registered plan is an UNEXECUTED k-iteration
#: lineage: at runtime each pass materializes its step (a count() +
#: unpersist per iteration cuts the lineage), so execution is
#: ~shuffles/iterations co-partitioned exchanges per pass — the
#: explain's composed counts are an artifact of auditing the lazy
#: plan, not a runtime shape (VERDICT r7 What's-wrong #2). Rows are
#: annotated ⟳ so a REAL lineage blowup elsewhere can't hide behind
#: "that row is always huge".
ITERATIVE = {
    "pagerank_mass_audit": "8-iteration power method; graph.py materializes each pass",
    "pagerank_bipartite": "8-iteration power method; graph.py materializes each pass",
}

#: operators whose registered fn COLLECTS a bounded artifact and
#: returns a driver-built relation: the audited row reflects only the
#: post-fold LocalTableScan (0 shuffles is an artifact of the fold,
#: not the execution), and auditing them EXECUTES the job. Their real
#: distributed stages are factored into importable helpers whose plans
#: tests/test_plans.py pins directly (r8 review finding).
DRIVER_FOLD = {
    "auc_roc_exact": "evaluation._auc_slice_stats",
    "bm25_topk": "retrieval._bm25_scored_topk",
    "rank_biased_overlap_exact": "retrieval._bm25_scored_topk + retrieval._tf_scored_topk",
}


def _bad_big_literal(plan: str) -> bool:
    """A numeric array literal with more than BIG_LITERAL_ELEMS
    elements embedded in the plan text. Spark prints array literals in
    full, so a comma-run count is a faithful element count."""
    return (
        re.search(r"\[(?:-?\d+,){%d}" % BIG_LITERAL_ELEMS, plan) is not None
    )


#: tables whose row count scales with the corpus (SF → 100 TB).
#: nation/region are fixed 25/5-row dims and excluded: broadcasting
#: them is correct at every scale.
UNBOUNDED_TABLES = re.compile(
    r"\[file:[^\]]*/(documents|lineitem|orders|events|embeddings|"
    r"customer|part|partsupp|supplier)\.parquet\]"
)

#: column names that denote a TEXT-DERIVED DICTIONARY key — the
#: gram/vocab/distinct-frequency lineage of VERDICT r9 task 2. These
#: relations' cardinality grows with corpus token volume, their
#: payloads are highly compressible strings, and AQE's
#: compressed-shuffle-bytes estimate systematically under-sizes the
#: deserialized hash relation built from them (the r9
#: ngram_novelty_score OOM). Numeric FK-keyed aggregates
#: (custkey/partkey/user_id/fp rollups) are deliberately NOT matched:
#: the planner sizes fixed-width relations faithfully and falls back
#: to a shuffle join at scale on its own — the replica sweeps exercise
#: that class.
DICT_KEY_RE = re.compile(
    r"^(gram|grams|ngram|ngrams|shingle|shingles|tok|toks|token|tokens"
    r"|term|terms|word|words|vocab|bigram|bigrams|trigram|trigrams"
    r"|bg|w|w1|w2|block|para|paragraph|sent|sentence)$"
)


def _corpus_dict_broadcast(plan: str) -> list[str]:
    """Round-10 guard (VERDICT r9 task 2): a BroadcastExchange whose
    build side is a CORPUS-DERIVED DICTIONARY — its topmost
    aggregation is keyed on a text-derived dictionary column
    (grams/tokens/vocab), computed over a scan of a corpus-scale
    table, with no limit/sample bounding the subtree. Such a build
    side grows with the corpus: it fits the broadcast threshold at
    test scale by luck — serialized-compressed size sits under 10 MB
    while the deserialized hash relation explodes — and OOMs the
    driver/executors at 100 TB. This is the defect class the round-9
    heavy-replica sweep caught in ngram_novelty_score (AQE broadcast
    the gram→min(doc) firsts table); the static form catches it at
    plan-audit time instead of after a 20-minute 10× sweep. Returns
    one reason string per offending BroadcastExchange.

    Only TOP-LEVEL aggregates (no aggregate ancestor within the
    broadcast subtree) are judged: an inner gram/token aggregation
    that collapses to a scalar or a bounded-enum rollup before the
    broadcast (Kneser-Ney's Σ over the continuation table, vocab
    sizes per source) emits a bounded relation. A broadcast is
    further exonerated when its subtree (a) scans no corpus-scale
    table (literal models, nation/region dims), (b) has a
    GlobalLimit / TakeOrderedAndProject / CollectLimit bounding it
    (top-K vocab faces), or (c) is a bounded INPUT face — a pushed
    ``doc_id < k`` / ``doc_id = k`` benchmark-sample cap or a fixed
    ``IN (...)`` term-list filter (decontamination suites, fixed
    query terms)."""
    out: list[str] = []
    lines = plan.split("\n")

    def _content_start(s: str) -> int:
        m = re.match(r"^[\s:+|-]*", s)
        return m.end()

    agg_re = re.compile(
        r"(?:HashAggregate|SortAggregate|ObjectHashAggregate)\(keys=\[([^\]]*)\]"
    )
    bounded_input_re = re.compile(
        r"\(doc_id#\d+L? (?:<|<=|=) \d+\)|\w+#\d+ IN \("
    )
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        depth = _content_start(line)
        j = i + 1
        sub: list[str] = []
        while j < len(lines) and _content_start(lines[j]) > depth:
            sub.append(lines[j])
            j += 1
        subtree = "\n".join(sub)
        if not UNBOUNDED_TABLES.search(subtree):
            continue
        if re.search(r"GlobalLimit|TakeOrderedAndProject|CollectLimit", subtree):
            continue
        if bounded_input_re.search(subtree):
            continue
        # walk the subtree with an ancestor stack: judge only
        # aggregates with NO aggregate ancestor inside this broadcast
        stack: list[tuple[int, bool]] = []
        hit: list[str] = []
        for s in sub:
            d = _content_start(s)
            while stack and stack[-1][0] >= d:
                stack.pop()
            m = agg_re.search(s)
            is_agg = m is not None
            if is_agg and not any(a for _, a in stack):
                keys = m.group(1)
                cols = re.findall(r"(\w+)#\d+", keys)
                dict_keys = sorted(
                    {c for c in cols if DICT_KEY_RE.match(c)}
                )
                if dict_keys:
                    hit = dict_keys
            stack.append((d, is_agg))
        if hit:
            out.append(
                "broadcast build side is a corpus-derived dictionary "
                f"keyed on {hit}"
            )
    return out


#: column-name shape of a KEY: the PK/FK/id columns of the data model.
#: A broadcast build side whose scan reads ONLY these is a key
#: projection — its cardinality is the fact table's row (or key)
#: count, which grows with the corpus.
FACT_KEY_COL_RE = re.compile(r"(?:key|_id|^id)$")

#: bounded-input filters that exonerate a fact-table scan inside a
#: broadcast subtree: a pushed/post-scan equality or upper bound on a
#: key (benchmark sample caps), or a fixed IN-list (decontamination
#: suites, fixed query keys) — both in Filter-node spelling
#: (``(doc_id#12L <= 100)``) and in PushedFilters spelling
#: (``EqualTo(doc_id,5)`` / ``In(doc_id, [...])``).
FACT_BOUNDED_RE = re.compile(
    r"\(\w+#\d+L? (?:<|<=|=) \d+\)"
    r"|\w+#\d+ IN \("
    r"|(?:EqualTo|LessThan|LessThanOrEqual|In)\(\w*(?:key|id)"
)


#: the TRUE fact tables for the key-projection broadcast rule —
#: row counts proportional to the corpus with no dimension role.
#: customer/part/supplier also scale with SF but their broadcast
#: elections are scan-direct and statistics-governed throughout the
#: q-series (certified value-exact at the 100× replica), so they are
#: judged by the narrower anti/semi + post-shuffle conditions only
#: via this same rule when their scan feeds those shapes — the
#: blanket fact set stays the big four + embeddings.
FACT_TABLES_RE = re.compile(
    r"\[file:[^\]]*/(lineitem|orders|events|documents|embeddings)"
    r"\.parquet\]"
)


def _fact_key_broadcast(plan: str) -> list[str]:
    """Round-11 guard (VERDICT r10 task 2): a BroadcastExchange whose
    build side is a FACT-TABLE KEY PROJECTION — the subtree scans a
    fact table (lineitem/orders/events/documents/embeddings) reading
    ONLY key columns (ReadSchema is all ``*key``/``*_id`` fields) —
    in one of the two shapes where the broadcast election is blind to
    true cardinality:

    * the broadcast feeds an ANTI or SEMI join (the probe side is the
      corpus, so the build side must hold EVERY key — the exact shape
      of the round-10 ``referential_integrity_audit`` OOM, where AQE
      elected to broadcast the ORDERS key relation from its
      post-shuffle COMPRESSED bytes: sequential int64 keys compress
      ~brutally, the deserialized hash relation does not; fixed by
      merge-pinning in commit 9fca7f6);
    * the build subtree contains an Exchange or a keyed aggregate —
      a post-shuffle/distinct key relation, where every size the
      planner sees is compressed shuffle bytes, the same blind spot.

    Scan-direct INNER-join broadcasts of fact keys are deliberately
    NOT flagged: their election is governed by file statistics
    (column-pruned parquet size), which track true cardinality, and
    the planner demotes them to shuffle joins at scale on its own —
    the full TPC-H series over exactly these shapes is certified
    value-exact at the 100× replica on a 1 GiB session.

    Exonerations (mirrors ``_corpus_dict_broadcast``): a GlobalLimit /
    TakeOrderedAndProject / CollectLimit bounding the subtree (top-K
    key faces); a bounded-input filter on a key (pushed or post-scan
    equality / upper bound / IN-list — benchmark caps and fixed probe
    sets); a scalar aggregate (``keys=[]``) collapsing the subtree to
    one row; and scans whose ReadSchema carries ANY non-key column —
    a filtered dim face (the filter column rides the ReadSchema on
    parquet scans, so selective dim broadcasts are never confused
    with bare key projections)."""
    out: list[str] = []
    lines = plan.split("\n")

    def _content_start(s: str) -> int:
        m = re.match(r"^[\s:+|-]*", s)
        return m.end()

    scan_re = re.compile(
        r"Scan parquet[^\n]*?\[file:[^\]]*/(\w+)\.parquet\][^\n]*?"
        r"ReadSchema: struct<([^\n]*)>"
    )
    anti_semi_re = re.compile(
        r"Join\b.*?\b(?:LeftAnti|LeftSemi|ExistenceJoin)"
    )
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        depth = _content_start(line)
        j = i + 1
        sub: list[str] = []
        while j < len(lines) and _content_start(lines[j]) > depth:
            sub.append(lines[j])
            j += 1
        subtree = "\n".join(sub)
        if not FACT_TABLES_RE.search(subtree):
            continue
        if re.search(r"GlobalLimit|TakeOrderedAndProject|CollectLimit", subtree):
            continue
        if FACT_BOUNDED_RE.search(subtree):
            continue
        if "HashAggregate(keys=[]" in subtree or "SortAggregate(keys=[]" in (
            subtree
        ):
            continue  # scalar-collapsed build side: 1 row at any scale
        # shape gate: the nearest ancestor (the consuming join) must be
        # anti/semi, OR the build side must be post-shuffle/aggregated
        parent = ""
        for k in range(i - 1, -1, -1):
            if _content_start(lines[k]) < depth:
                parent = lines[k]
                break
        blind_shape = bool(anti_semi_re.search(parent)) or bool(
            re.search(
                r"Exchange |HashAggregate\(keys=\[\w|SortAggregate\(keys=\[\w"
                r"|ObjectHashAggregate\(keys=\[\w",
                subtree,
            )
        )
        if not blind_shape:
            continue
        # the WHOLE build side must be key-derived: every scan in the
        # subtree reads only key columns (if any non-key attribute
        # enters, the relation is either filtered by selectivity the
        # planner sizes faithfully or rolled up to a bounded axis —
        # e.g. a per-nation aggregate — and is not this class)
        scans = list(scan_re.finditer(subtree))
        if not scans:
            continue
        fact_key_scans = []
        all_key_only = True
        for m in scans:
            table, schema = m.group(1), m.group(2)
            cols = re.findall(r"(\w+):", schema)
            if not cols or not all(FACT_KEY_COL_RE.search(c) for c in cols):
                all_key_only = False
                break
            if re.match(
                r"lineitem|orders|events|documents|embeddings", table
            ):
                fact_key_scans.append((table, cols))
        if all_key_only and fact_key_scans:
            table, cols = fact_key_scans[0]
            out.append(
                "broadcast build side is a fact-table key projection: "
                f"{table} reading only {sorted(set(cols))} "
                + (
                    "feeding an anti/semi join"
                    if anti_semi_re.search(parent)
                    else "as a post-shuffle/aggregated relation"
                )
            )
    return out


def _bad_nested_loop(plan: str) -> bool:
    """BroadcastNestedLoopJoin is benign only with a 1-row broadcast
    build side: a scalar cross join, or a non-equi comparison against a
    global scalar aggregate (``HashAggregate(keys=[]`` under the
    broadcast — e.g. ``x > (SELECT avg ...)``), which is a broadcast
    filter, not a quadratic join. Anything else is a red flag."""
    for m in re.finditer(r"BroadcastNestedLoopJoin (\w+), (\w+)", plan):
        if m.group(2) == "Cross":
            continue
        below = plan[m.end() : m.end() + 1600]
        if "HashAggregate(keys=[]" in below:
            continue  # 1-row scalar-agg build side
        return True
    return False


def audit_plan(plan: str) -> dict:
    return {
        "shuffles": len(re.findall(r"Exchange hashpartitioning", plan)),
        "broadcasts": plan.count("BroadcastExchange"),
        "bcast_joins": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "pushed": "PushedFilters: [" in plan
        and "PushedFilters: []" not in plan.replace("PushedFilters: [],", "X"),
        "take_ordered": "TakeOrderedAndProject" in plan,
        "wgl": "WindowGroupLimit" in plan,
        "scalar_agg": "Exchange SinglePartition" in plan,
        "single_part": _bad_single_partition(plan),
        "bnlj": _bad_nested_loop(plan),
        "enum_window": _bad_enum_window(plan),
        "big_literal": _bad_big_literal(plan),
        "dict_bcast": _corpus_dict_broadcast(plan),
        "fact_key_bcast": _fact_key_broadcast(plan),
        "arrow": "ArrowEvalPython" in plan or "MapInPandas" in plan,
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit", cpus=8)
    specs = all_specs()

    lines = [
        "# PLANS — physical-plan audit of headline queries",
        "",
        f"Auto-generated by `tools/plan_audit.py` at `{sf_dir}`; regenerate",
        "after any operator change. Columns: shuffle exchange count,",
        "broadcast exchanges, join strategies, parquet pushdown, top-k",
        "short-circuits, Arrow/Python stages. Red-flag",
        "columns (global single-partition exchange, nested-loop join,",
        "enum-partitioned window, oversized plan literal, corpus-",
        "dictionary broadcast build side, fact-table key-projection",
        "broadcast build side) must stay",
        "empty — tests/test_plans.py enforces the critical ones.",
        "Rows marked ⟳ are ITERATIVE operators: the explain composes the",
        "unexecuted k-iteration lineage, but each runtime pass",
        "materializes its step (count() + unpersist), so execution is",
        "~counts/k co-partitioned exchanges per pass, not the printed",
        "total. Rows marked ⊙ are DRIVER-FOLD operators: the registered",
        "fn collects a bounded artifact and returns a driver-built",
        "relation, so the audited row is the post-fold LocalTableScan —",
        "their real distributed stages are factored helpers whose plans",
        "tests/test_plans.py pins directly.",
        "",
        "| query | shuffles | broadcasts | BHJ | SMJ | pushdown |"
        " TakeOrdered | WindowGroupLimit | Arrow | scalar-agg | BadSinglePart! | BadNestedLoop! | BadEnumWindow! | BigLiteral! | DictBcast! | FactKeyBcast! |",
        "|---|---|---|---|---|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    flags: list[str] = []
    errors: list[str] = []
    names = AUDITED if AUDITED is not None else list(specs)
    for name in names:
        spec = specs.get(name)
        if spec is None:
            continue
        try:
            df = spec.fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # audited best-effort; a build error here
            errors.append(f"{name}: {type(e).__name__}: {e}")
            continue
        a = audit_plan(plan)
        y = lambda b: "✓" if b else ""  # noqa: E731
        it = "⟳" if name in ITERATIVE else ("⊙" if name in DRIVER_FOLD else "")
        lines.append(
            f"| {name} | {a['shuffles']}{it} | {a['broadcasts']}{it} | "
            f"{a['bcast_joins']} | {a['smj']} | {y(a['pushed'])} | "
            f"{y(a['take_ordered'])} | {y(a['wgl'])} | "
            f"{y(a['arrow'])} | {y(a['scalar_agg'])} | {y(a['single_part'])} | "
            f"{y(a['bnlj'])} | {y(a['enum_window'])} | {y(a['big_literal'])} | "
            f"{y(bool(a['dict_bcast']))} | {y(bool(a['fact_key_bcast']))} |"
        )
        if a["single_part"]:
            flags.append(f"{name}: single-partition exchange")
        if a["bnlj"]:
            flags.append(f"{name}: broadcast nested loop join")
        if a["enum_window"]:
            flags.append(f"{name}: enum-partitioned window over raw rows")
        if a["big_literal"]:
            flags.append(
                f"{name}: array literal > {BIG_LITERAL_ELEMS} elements in plan"
            )
        for reason in a["dict_bcast"]:
            flags.append(f"{name}: {reason}")
        for reason in a["fact_key_bcast"]:
            flags.append(f"{name}: {reason}")
    lines.append("")
    if errors:
        lines.append("## PLAN BUILD ERRORS")
        lines += [f"- {e}" for e in errors]
        lines.append("")
    if flags:
        lines.append("## RED FLAGS")
        lines += [f"- {f}" for f in flags]
    else:
        lines.append(
            "No red flags: no single-partition exchanges, no nested-loop "
            "joins, no enum-partitioned windows over raw rows, no "
            "oversized plan literals, no corpus-dictionary broadcast "
            "build sides, and no fact-table key-projection broadcast "
            "build sides in any audited plan."
        )
    lines.append("")
    with open("PLANS.md", "w") as f:
        f.write("\n".join(lines))
    print(f"wrote PLANS.md ({len(names) - len(errors)} plans, {len(errors)} errors, {len(flags)} flags)")
    for e in errors:
        print("ERR ", e)
    for fl in flags:
        print("FLAG", fl)
    # verify_all.sh step 3 claims "red flags fail the build": a plan
    # that cannot build, a single-partition exchange, or a nested-loop
    # join must exit nonzero, not just annotate PLANS.md.
    return 1 if errors or flags else 0


if __name__ == "__main__":
    raise SystemExit(main())
