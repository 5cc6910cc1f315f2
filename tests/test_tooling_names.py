"""Source guards, Spark-free (modules are imported or parsed, no
session is started).

Stale-name guard for the bench and tool scripts: every name they read
from the query operator or the Levenshtein kernel module — attribute
reads (and writes) through a module alias, and ``from ... import``
names — must exist. Tests catch stale internals through
``monkeypatch.setattr(raising=True)``; nothing else runs these scripts.

Colocation guard: the package colocates forests only through the one
range helper (``build._colocate_forests``); a hash ``repartition`` on
``compute_node`` puts several forests into one task."""

import ast
import importlib
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


def _references(source: str) -> list[tuple[str, str, int]]:
    """(module, name, line) for every name the script takes from a
    guarded module. Aliases are collected file-wide (scripts bind them
    inside functions), which over-approximates scope harmlessly."""
    tree = ast.parse(source)
    aliases: dict[str, str] = {}
    refs: list[tuple[str, str, int]] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name in GUARDED and a.asname:
                    aliases[a.asname] = a.name
        elif isinstance(node, ast.ImportFrom) and node.module:
            for a in node.names:
                if f"{node.module}.{a.name}" in GUARDED:
                    aliases[a.asname or a.name] = f"{node.module}.{a.name}"
                elif node.module in GUARDED:
                    refs.append((node.module, a.name, node.lineno))
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute):
            base = _dotted(node.value)
            mod = aliases.get(base, base)
            if mod in GUARDED:
                refs.append((mod, node.attr, node.lineno))
    return sorted(refs, key=lambda r: r[2])


def _stale(source: str) -> list[str]:
    return [
        f"line {line}: {mod}.{name}"
        for mod, name, line in _references(source)
        if not hasattr(importlib.import_module(mod), name)
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
