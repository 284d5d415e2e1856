"""Materialization lifetimes (``functions/scope.py``): intermediates are
scoped, and a returned DataFrame owns its checkpoints.

- the scope releases and restores everything on every exit path;
- a returned DataFrame stays usable after later calls of the same query;
- a failed call leaves the session's confs and caches as it found them;
- dropped results free their blocks (no session-long cache pins);
- no operator module persists, caches or overrides the session conf
  outside the scope;
- operators read tables through ``load_table`` and size fan-outs with
  ``tables.adaptive_partitions`` only;
- operators rank through ``functions/distscan.py``, not a hand-built
  range-slice scaffold;
- no operator module imports another's private names, and the
  operator-to-operator imports form no cycle.
"""

from __future__ import annotations

import ast
import gc
import math
import time
from pathlib import Path

import pytest

from watermill_kinesis_spark.functions.scope import Scope
from watermill_kinesis_spark.registry import queries

#: the queries that kept a module-global "latest result" slot before
#: the scope existed
FORMER_SLOT_QUERIES = (
    "graph_bfs_hops",
    "pagerank_bipartite",
    "simhash_recall_audit",
    "cluster_kmeans_embeddings",
    "bloom_fpp_audit",
)

OPERATORS = (
    Path(__file__).resolve().parents[1] / "watermill_kinesis_spark" / "operators"
)


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _canon(rows) -> list:
    """Order-insensitive rows; floats rounded so partial-sum order
    cannot fail an equality that is about lifetimes, not arithmetic."""
    return sorted(
        tuple(
            round(v, 9) if isinstance(v, float) and math.isfinite(v) else v
            for v in r
        )
        for r in rows
    )


def test_scope_releases_and_restores_when_the_body_raises(spark):
    conf = spark.conf
    before = _persisted(spark)
    aqe = conf.get("spark.sql.adaptive.enabled")
    with pytest.raises(ValueError, match="body failed"):
        with Scope(spark) as scope:
            df = scope.persisted(spark.range(100))
            df.count()
            cp = scope.checkpointed(spark.range(50))
            cp_rdd = cp._jdf.queryExecution().analyzed().rdd()
            assert df.is_cached and cp_rdd.getStorageLevel().isValid()
            scope.set_conf("spark.sql.adaptive.enabled", "false")
            scope.set_conf("spark.graft.test.unset.key", "1")
            raise ValueError("body failed")
    assert not df.is_cached
    assert not cp_rdd.getStorageLevel().isValid()  # StorageLevel.NONE
    assert _persisted(spark) <= before
    assert conf.get("spark.sql.adaptive.enabled") == aqe
    assert conf.get("spark.graft.test.unset.key", None) is None


def test_scope_keeps_the_body_error_when_a_release_fails(spark):
    with pytest.raises(ValueError, match="body failed") as info:
        with Scope(spark) as scope:
            scope._undo.append(lambda: 1 / 0)
            raise ValueError("body failed")
    assert any("ZeroDivisionError" in n for n in info.value.__notes__)


def test_scope_raises_a_release_error_after_a_clean_body(spark):
    with pytest.raises(ZeroDivisionError):
        with Scope(spark) as scope:
            scope._undo.append(lambda: 1 / 0)


@pytest.mark.parametrize("name", FORMER_SLOT_QUERIES)
def test_earlier_result_survives_a_later_call(spark, sf_dir, name):
    q = queries()[name]
    a = q(spark, sf_dir)
    b = q(spark, sf_dir)
    rows_b = b.collect()
    assert rows_b
    assert _canon(a.collect()) == _canon(rows_b)


def test_failed_call_leaves_the_session_as_found(spark):
    before = _persisted(spark)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    with pytest.raises(Exception):
        queries()["graph_bfs_hops"](spark, "/nonexistent")
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    # ``<=``: unrelated garbage from earlier tests may be freed meanwhile
    assert _persisted(spark) <= before


def test_dropped_results_release_their_blocks(spark, sf_dir):
    gc.collect()
    before = _persisted(spark)
    extra = ("stupid_backoff_score", "q11_important_stock")
    for name in FORMER_SLOT_QUERIES + extra:
        queries()[name](spark, sf_dir).collect()
    # Python drops the results now; the JVM frees their checkpoint RDDs
    # once py4j detaches them and a GC clears the ContextCleaner's weak
    # references. Sleep before each System.gc(): the py4j detach runs
    # on a finalizer thread, and each count below pins its map for a
    # moment the same way.
    deadline = time.monotonic() + 30
    while True:
        gc.collect()
        time.sleep(1)
        spark.sparkContext._jvm.System.gc()
        now = _persisted(spark)
        if now <= before or time.monotonic() > deadline:
            break
    assert now <= before


def _violations(path: Path) -> list[str]:
    out = []
    for node in ast.walk(ast.parse(path.read_text())):
        where = f"{path.name}:{getattr(node, 'lineno', '?')}"
        if isinstance(node, ast.Global):
            out.append(f"{where} global {', '.join(node.names)}")
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            if f.attr in ("persist", "cache"):
                out.append(f"{where} .{f.attr}(")
            elif (
                f.attr in ("set", "unset")
                and isinstance(f.value, ast.Attribute)
                and f.value.attr == "conf"
                and isinstance(f.value.value, ast.Name)
                and f.value.value.id == "spark"
            ):
                out.append(f"{where} spark.conf.{f.attr}(")
    return out


def test_operators_leave_lifetimes_to_the_scope():
    """Only functions/scope.py may persist, cache or override the
    session conf; a module-global slot or an unowned cache must not come
    back. (A memoized child session's own conf — sqltext's
    ``newSession()`` — is not the caller's session and is not matched.)"""
    files = sorted(OPERATORS.glob("*.py"))
    assert len(files) > 30
    found = [v for p in files for v in _violations(p)]
    assert not found, "\n".join(found)


def test_guard_catches_each_forbidden_form(tmp_path):
    p = tmp_path / "bad.py"
    p.write_text(
        "def f(spark, df):\n"
        "    global X\n"
        "    df.persist()\n"
        "    df.cache()\n"
        "    spark.conf.set('k', 'v')\n"
        "    spark.conf.unset('k')\n"
    )
    assert len(_violations(p)) == 5


def _only_wraps_load_table(fn: ast.FunctionDef) -> bool:
    body = fn.body
    if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
        body = body[1:]  # docstring
    return (
        len(body) == 1
        and isinstance(body[0], ast.Return)
        and isinstance(body[0].value, ast.Call)
        and isinstance(body[0].value.func, ast.Name)
        and body[0].value.func.id == "load_table"
    )


def _sizing_violations(path: Path) -> list[str]:
    out = []
    for top in ast.parse(path.read_text()).body:
        where = f"{path.name}:{top.lineno}"
        name = getattr(top, "name", None)
        if isinstance(top, ast.FunctionDef) and _only_wraps_load_table(top):
            out.append(f"{where} {name} only wraps load_table")
        if isinstance(top, ast.ImportFrom) and any(
            a.name == "adaptive_partitions" for a in top.names
        ):
            out.append(f"{where} module-level import of adaptive_partitions")
        for node in ast.walk(top):
            if isinstance(node, ast.Attribute) and node.attr == "defaultParallelism":
                out.append(f"{path.name}:{node.lineno} defaultParallelism")
    return out


def test_operators_share_one_loader_and_one_sizing_policy():
    """Operators read tables through ``load_table`` itself (no per-module
    wrapper) and size every fan-out with ``tables.adaptive_partitions``,
    imported inside the function body so a reassignment of the module
    attribute (tools/tune_fanout.py) reaches every site. No operator
    reads ``defaultParallelism``; the one fixed layout left
    (``tables.embedding_vectors(fixed=True)``) lives in ``sources/``."""
    files = sorted(OPERATORS.glob("*.py"))
    assert len(files) > 30
    found = [v for p in files for v in _sizing_violations(p)]
    assert not found, "\n".join(found)


def test_sizing_guard_catches_each_forbidden_form(tmp_path):
    p = tmp_path / "bad.py"
    p.write_text(
        "from watermill_kinesis_spark.sources.tables import adaptive_partitions\n"
        "def _t(spark, sf_dir, name):\n"
        "    '''a bare wrapper'''\n"
        "    return load_table(spark, sf_dir, name)\n"
        "def f(spark, df):\n"
        "    return df.repartition(spark.sparkContext.defaultParallelism)\n"
        "def _emb(spark):\n"
        "    return spark.sparkContext.defaultParallelism\n"
    )
    assert len(_sizing_violations(p)) == 4
    sim = tmp_path / "similarity.py"
    sim.write_text(
        "def _emb(spark):\n"
        "    return spark.sparkContext.defaultParallelism\n"
    )
    assert len(_sizing_violations(sim)) == 1


#: the one range repartition the operator layer keeps:
#: ``evaluation._auc_slice_stats``, a one-pass ``mapInPandas`` kernel
#: that reads its slices once and so needs neither the checkpoint nor
#: the offsets join of ``functions/distscan.py``
RANGE_PIN = ("evaluation.py", "_auc_slice_stats")


def _range_violations(path: Path) -> list[str]:
    out = []
    for top in ast.parse(path.read_text()).body:
        if (path.name, getattr(top, "name", None)) == RANGE_PIN:
            continue
        for node in ast.walk(top):
            where = f"{path.name}:{getattr(node, 'lineno', '?')}"
            if isinstance(node, ast.Attribute) and node.attr == "repartitionByRange":
                out.append(f"{where} .repartitionByRange")
            elif (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and "repartition_by_range" in node.value.lower()
            ):
                out.append(f"{where} REPARTITION_BY_RANGE hint")
    return out


def test_operators_rank_through_distscan():
    """Operators get a distributed rank, prefix sum or NTILE from
    ``functions/distscan.py`` (``grouped_scan``/``range_slices``), never
    from a hand-built range-slice scaffold; the only
    ``repartitionByRange`` left is the ``_auc_slice_stats`` kernel."""
    files = sorted(OPERATORS.glob("*.py"))
    assert len(files) > 30
    found = [v for p in files for v in _range_violations(p)]
    assert not found, "\n".join(found)


def test_range_guard_catches_each_forbidden_form(tmp_path):
    p = tmp_path / "bad.py"
    p.write_text(
        "def f(df):\n"
        "    return df.repartitionByRange(32, 'k').sortWithinPartitions('k')\n"
        "def g(df):\n"
        "    part = df.repartitionByRange\n"
        "    return part(8, 'k')\n"
        "def h(df):\n"
        "    return df.hint('repartition_by_range', 8, 'k')\n"
        "def i(spark):\n"
        "    return spark.sql('SELECT /*+ REPARTITION_BY_RANGE(8, k) */ * FROM t')\n"
        "def _auc_slice_stats(df):\n"
        "    return df.repartitionByRange(32, 'k')\n"
    )
    assert len(_range_violations(p)) == 5
    pin = tmp_path / RANGE_PIN[0]
    pin.write_text(
        "def _auc_slice_stats(df):\n"
        "    return df.repartitionByRange(32, 'k')\n"
    )
    assert _range_violations(pin) == []


OPERATOR_PACKAGE = "watermill_kinesis_spark.operators"


def _operator_imports(path: Path) -> list[tuple[int, str, str | None]]:
    """``(line, operator module, imported name or None)`` for every
    import of an operator module in ``path``, at any depth (imports
    inside function bodies included); ``None`` when the module itself
    is bound. A private attribute read through such a module binding
    (``D._x``) is reported as an import of ``_x``."""
    tree = ast.parse(path.read_text())
    out, aliases = [], {}
    prefix = OPERATOR_PACKAGE + "."
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            mod = node.module or ""
            if node.level:  # relative: siblings of the operator package
                mod = f"{prefix}{mod}" if mod else OPERATOR_PACKAGE
            if mod.startswith(prefix):
                for a in node.names:
                    out.append((node.lineno, mod[len(prefix):], a.name))
            elif mod == OPERATOR_PACKAGE:
                for a in node.names:
                    out.append((node.lineno, a.name, None))
                    aliases[a.asname or a.name] = a.name
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith(prefix):
                    out.append((node.lineno, a.name[len(prefix):], None))
                    if a.asname:
                        aliases[a.asname] = a.name[len(prefix):]
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in aliases
            and node.attr.startswith("_")
        ):
            out.append((node.lineno, aliases[node.value.id], node.attr))
    return out


def _layering_violations(files: list[Path]) -> list[str]:
    """Private cross-module imports, then every import cycle among the
    operator modules in ``files`` (each reported once, as a path)."""
    out, graph = [], {}
    for p in files:
        deps = graph.setdefault(p.stem, set())
        for line, mod, name in _operator_imports(p):
            if mod == p.stem:
                continue
            deps.add(mod)
            if name is not None and name.startswith("_"):
                out.append(f"{p.name}:{line} imports {mod}.{name}")
    done: set[str] = set()

    def visit(mod: str, path: list[str]) -> None:
        if mod in path:
            out.append("import cycle " + " -> ".join(path[path.index(mod):] + [mod]))
            return
        if mod in done or mod not in graph:
            return
        for dep in sorted(graph[mod]):
            visit(dep, path + [mod])
        done.add(mod)

    for mod in sorted(graph):
        visit(mod, [])
    return out


def test_operator_modules_import_only_public_names_without_cycles():
    """An operator module uses another's public names only, and the
    operator-to-operator import graph is acyclic: shared helpers belong
    in ``functions/`` or ``sources/``, not behind an underscore in a
    sibling module."""
    files = sorted(p for p in OPERATORS.glob("*.py") if p.name != "__init__.py")
    assert len(files) > 30
    found = _layering_violations(files)
    assert not found, "\n".join(found)


def test_layering_guard_catches_each_forbidden_form(tmp_path):
    (tmp_path / "a.py").write_text(
        f"from {OPERATOR_PACKAGE}.b import _x, y\n"
    )
    (tmp_path / "b.py").write_text(
        "def f():\n"
        f"    from {OPERATOR_PACKAGE}.a import z\n"
        "    return z\n"
    )
    (tmp_path / "c.py").write_text(
        "from .a import _w\n"
        f"from {OPERATOR_PACKAGE} import b as B\n"
        f"import {OPERATOR_PACKAGE}.a as A\n"
        "def g():\n"
        "    return B._helper() + A._v\n"
    )
    found = _layering_violations(sorted(tmp_path.glob("*.py")))
    assert sorted(found) == [
        "a.py:1 imports b._x",
        "c.py:1 imports a._w",
        "c.py:5 imports a._v",
        "c.py:5 imports b._helper",
        "import cycle a -> b -> a",
    ]
    (tmp_path / "b.py").write_text("def f():\n    return 1\n")
    (tmp_path / "c.py").write_text(f"from {OPERATOR_PACKAGE}.a import y\n")
    assert _layering_violations(sorted(tmp_path.glob("*.py"))) == [
        "a.py:1 imports b._x"
    ]
