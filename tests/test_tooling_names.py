"""Source guards, Spark-free (modules are imported or parsed, no
session is started).

Stale-name guard for the bench and tool scripts: every name they read
from the query operator or the Levenshtein kernel module — attribute
reads (and writes) through a module alias, and ``from ... import``
names — must exist. Tests catch stale internals through
``monkeypatch.setattr(raising=True)``; nothing else runs these scripts.

Keyword guard: every keyword those scripts pass to a function of a
guarded module, or to its ``prefixtree_spark`` re-export, must be a
parameter of that function — a deleted flag otherwise surfaces only
as a ``TypeError`` when someone runs the script.

Colocation guard: the package colocates forests only through the one
range helper (``build._colocate_forests``); a hash ``repartition`` on
``compute_node`` puts several forests into one task, and a
``groupBy("compute_node").applyInPandas`` is a second colocation path
whose group exchange AQE coalesces to ~1 task."""

import ast
import importlib
import inspect
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
GUARDED = (
    "prefixtree_spark.operators.query",
    "prefixtree_spark.functions.levenshtein",
)
SCRIPTS = [ROOT / "bench.py", *sorted((ROOT / "tools").glob("*.py"))]


def _dotted(node) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        base = _dotted(node.value)
        return None if base is None else f"{base}.{node.attr}"
    return None


PACKAGE = "prefixtree_spark"


def _reexported(name: str) -> str | None:
    """The guarded module a package-level name comes from, or None."""
    mod = getattr(getattr(importlib.import_module(PACKAGE), name, None), "__module__", None)
    return mod if mod in GUARDED else None


def _bindings(tree) -> tuple[dict[str, str], dict[str, tuple[str, str, int]]]:
    """Local names bound to a guarded module (aliases), and to a name
    imported from one or re-exported by the package: (module, name,
    line). Collected file-wide (scripts bind them inside functions),
    which over-approximates scope harmlessly."""
    modules: dict[str, str] = {}
    names: dict[str, tuple[str, str, int]] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name in GUARDED and a.asname:
                    modules[a.asname] = a.name
        elif isinstance(node, ast.ImportFrom) and node.module:
            for a in node.names:
                local = a.asname or a.name
                if f"{node.module}.{a.name}" in GUARDED:
                    modules[local] = f"{node.module}.{a.name}"
                elif node.module in GUARDED or (
                    node.module == PACKAGE and _reexported(a.name)
                ):
                    names[local] = (node.module, a.name, node.lineno)
    return modules, names


def _references(source: str) -> list[tuple[str, str, int]]:
    """(module, name, line) for every name the script takes from a
    guarded module: ``from ... import`` names and attribute reads (and
    writes) through a module alias."""
    tree = ast.parse(source)
    modules, names = _bindings(tree)
    refs = [ref for ref in names.values() if ref[0] in GUARDED]
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute):
            base = _dotted(node.value)
            mod = modules.get(base, base)
            if mod in GUARDED:
                refs.append((mod, node.attr, node.lineno))
    return sorted(refs, key=lambda r: r[2])


def _stale(source: str) -> list[str]:
    return [
        f"line {line}: {mod}.{name}"
        for mod, name, line in _references(source)
        if not hasattr(importlib.import_module(mod), name)
    ]


def _keyword_calls(source: str) -> list[tuple[str, str, str, int]]:
    """(module, function, keyword, line) for every keyword argument the
    script passes to a function of a guarded module, called through a
    module alias or a name imported from the module or the package."""
    tree = ast.parse(source)
    modules, names = _bindings(tree)
    calls = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        target = None
        if isinstance(node.func, ast.Name) and node.func.id in names:
            target = names[node.func.id][:2]
        elif isinstance(node.func, ast.Attribute):
            base = _dotted(node.func.value)
            mod = modules.get(base, base)
            if mod in GUARDED or (mod == PACKAGE and _reexported(node.func.attr)):
                target = (mod, node.func.attr)
        if target is None:
            continue
        calls.extend(
            (*target, kw.arg, node.lineno) for kw in node.keywords if kw.arg is not None
        )
    return sorted(calls, key=lambda c: c[3])


def _unknown_keywords(source: str) -> list[str]:
    bad = []
    for mod, name, kw, line in _keyword_calls(source):
        fn = getattr(importlib.import_module(mod), name, None)
        if fn is None:
            continue  # a stale name: test_script_names_exist reports it
        params = inspect.signature(fn).parameters.values()
        if any(p.kind is p.VAR_KEYWORD for p in params):
            continue
        names = {p.name for p in params if p.kind is not p.POSITIONAL_ONLY}
        if kw not in names:
            bad.append(f"line {line}: {mod}.{name}({kw}=...)")
    return bad


@pytest.mark.parametrize("script", SCRIPTS, ids=lambda p: p.name)
def test_script_keywords_exist(script):
    bad = _unknown_keywords(script.read_text())
    assert not bad, f"{script.name} passes keywords that no longer exist: {bad}"


def test_bench_keyword_calls_are_seen():
    """The keyword scan must find the bench's calls through package
    re-exports and a module alias — a scanner that matched nothing
    would pass vacuously."""
    seen = {(m, f) for m, f, _, _ in _keyword_calls((ROOT / "bench.py").read_text())}
    assert {
        ("prefixtree_spark", "query"),
        ("prefixtree_spark", "reshard"),
        ("prefixtree_spark.operators.query", "_query_filegroups"),
    } <= seen


def test_keyword_scanner_flags_every_call_form():
    src = (
        "import prefixtree_spark.operators.query as qm\n"
        "from prefixtree_spark import query, create\n"
        "from prefixtree_spark.operators.query import query_groups as qg\n"
        "import prefixtree_spark\n"
        "qm.query(pt, q, 'q', 1, colocated=True)\n"
        "query(pt, q, 'q', 1, mode='auto', tree_partitioned=True)\n"
        "qg(pt, path, 1, colocated=False)\n"
        "prefixtree_spark.query(pt, q, 'q', 1, gone=1)\n"
        "create(df, 'w', colocated=True)\n"
        "qm.reshard(pt, num_partitions=2)\n"
    )
    assert _unknown_keywords(src) == [
        "line 5: prefixtree_spark.operators.query.query(colocated=...)",
        "line 6: prefixtree_spark.query(tree_partitioned=...)",
        "line 7: prefixtree_spark.operators.query.query_groups(colocated=...)",
        "line 8: prefixtree_spark.query(gone=...)",
    ]


@pytest.mark.parametrize("script", SCRIPTS, ids=lambda p: p.name)
def test_script_names_exist(script):
    stale = _stale(script.read_text())
    assert not stale, f"{script.name} reads names that no longer exist: {stale}"


def test_bench_references_are_seen():
    """The scan must actually find the bench's internal calls — a
    scanner that matched nothing would pass vacuously."""
    names = {name for _, name, _ in _references((ROOT / "bench.py").read_text())}
    assert {"_query_filegroups", "_query_broadcast_queries", "QueryBatch"} <= names


def test_scanner_flags_every_reference_form():
    src = (
        "import prefixtree_spark.operators.query as qm\n"
        "from prefixtree_spark.operators import query as q2\n"
        "from prefixtree_spark.functions.levenshtein import extend_rows_gone\n"
        "import prefixtree_spark.functions.levenshtein\n"
        "qm._gone_a()\n"
        "q2._gone_b = 1\n"
        "prefixtree_spark.functions.levenshtein.gone_c\n"
        "qm.query\n"
    )
    assert _stale(src) == [
        "line 3: prefixtree_spark.functions.levenshtein.extend_rows_gone",
        "line 5: prefixtree_spark.operators.query._gone_a",
        "line 6: prefixtree_spark.operators.query._gone_b",
        "line 7: prefixtree_spark.functions.levenshtein.gone_c",
    ]


def _compute_node_repartitions(source: str) -> list[int]:
    """Lines of ``.repartition(...)`` calls whose arguments name the
    ``compute_node`` column (as a string anywhere inside them)."""
    lines = []
    for node in ast.walk(ast.parse(source)):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "repartition"
        ):
            continue
        args = [*node.args, *(kw.value for kw in node.keywords)]
        if any(
            isinstance(n, ast.Constant) and n.value == "compute_node"
            for a in args
            for n in ast.walk(a)
        ):
            lines.append(node.lineno)
    return lines


def test_no_hash_repartition_on_compute_node():
    hits = [
        f"{path.relative_to(ROOT)}:{line}"
        for path in sorted((ROOT / "prefixtree_spark").rglob("*.py"))
        for line in _compute_node_repartitions(path.read_text())
    ]
    assert not hits, f"hash repartition on compute_node: {hits}"


def test_repartition_scanner_flags_every_form():
    src = (
        'df.repartition(4, "compute_node")\n'
        'df.repartition(F.col("compute_node"))\n'
        'df.repartition(n, "word")\n'
        'df.repartitionByRange(8, "compute_node")\n'
        'df.repartition(*["compute_node"])\n'
    )
    assert _compute_node_repartitions(src) == [1, 2, 5]


def _compute_node_group_udfs(source: str) -> list[int]:
    """Lines of ``.groupBy(...)`` calls naming ``compute_node`` whose
    result feeds ``.applyInPandas`` directly (a cogroup in between is a
    merge of two frames, not a traversal)."""
    lines = []
    for node in ast.walk(ast.parse(source)):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "applyInPandas"
        ):
            continue
        grouped = node.func.value
        if not (
            isinstance(grouped, ast.Call)
            and isinstance(grouped.func, ast.Attribute)
            and grouped.func.attr in ("groupBy", "groupby")
        ):
            continue
        args = [*grouped.args, *(kw.value for kw in grouped.keywords)]
        if any(
            isinstance(n, ast.Constant) and n.value == "compute_node"
            for a in args
            for n in ast.walk(a)
        ):
            lines.append(node.lineno)
    return lines


def test_no_group_udf_on_compute_node():
    hits = [
        f"{path.relative_to(ROOT)}:{line}"
        for path in sorted((ROOT / "prefixtree_spark").rglob("*.py"))
        for line in _compute_node_group_udfs(path.read_text())
    ]
    assert not hits, f"groupBy(compute_node).applyInPandas: {hits}"


def test_group_udf_scanner_flags_every_form():
    src = (
        'pt.groupBy("compute_node").applyInPandas(run, schema=s)\n'
        'pt.groupby(F.col("compute_node")).applyInPandas(run, s)\n'
        'pt.groupBy("compute_node").cogroup(h.groupBy("pid")).applyInPandas(m, s)\n'
        'pt.groupBy("word").applyInPandas(run, s)\n'
        'pt.mapInPandas(run, schema=s)\n'
    )
    assert _compute_node_group_udfs(src) == [1, 2]
