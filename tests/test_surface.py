"""Every public def in ``vector_db_spark/`` is named by code outside
``tests/``: the rest of the package, ``bench.py``, ``__spark_entry__.py``,
``perfbench/`` or ``scripts/``. A def only tests name is surface nothing
ships; delete it with its tests, or allowlist it below with its reason."""

from __future__ import annotations

import ast
import pathlib
import re
from collections import Counter

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "vector_db_spark"

ALLOWED = {
    "remote_embed": "the reference's HTTP embedding client (SURVEY E3)",
    "all_ids": "the reference's list-all-ids call (SURVEY S5)",
    "idf_weights": "the reference BM25 IDF formula the hybrid tests compare against",
    "hnsw_graph_search": "the recall check that shows an exported HNSW graph is navigable",
    "assert_scales": "the plan-audit contract helper the plan tests call",
}


def _registered(d: ast.FunctionDef) -> bool:
    """``@register(...)`` puts a query in the registry the driver reads."""
    return any(
        isinstance(dec, ast.Call) and getattr(dec.func, "id", None) == "register"
        for dec in d.decorator_list
    )


def _public_defs(tree: ast.Module, local_classes: set[str]):
    """Public module-level functions and methods of module-level classes.
    Methods of a class that extends a class from outside the package
    (a PySpark data source, an exception) are hooks its framework calls."""
    for node in tree.body:
        if isinstance(node, ast.FunctionDef):
            yield node
        elif isinstance(node, ast.ClassDef) and all(
            isinstance(b, ast.Name) and b.id in local_classes for b in node.bases
        ):
            yield from (n for n in node.body if isinstance(n, ast.FunctionDef))


def test_no_public_def_is_named_only_by_tests():
    package = sorted(PACKAGE.rglob("*.py"))
    others = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    others += sorted((ROOT / "perfbench").rglob("*.py"))
    others += sorted((ROOT / "scripts").rglob("*.py"))

    named: Counter = Counter()
    for f in package + others:
        named.update(re.findall(r"[A-Za-z_]\w*", f.read_text()))

    trees = {f: ast.parse(f.read_text(), str(f)) for f in package}
    local_classes = {
        n.name for t in trees.values() for n in t.body if isinstance(n, ast.ClassDef)
    }
    defs: dict[str, list[str]] = {}
    for f, tree in trees.items():
        for d in _public_defs(tree, local_classes):
            if not d.name.startswith("_") and not _registered(d):
                defs.setdefault(d.name, []).append(f"{f.relative_to(ROOT)}:{d.lineno}")

    # each ``def name`` is one mention of the name; any further one is a use
    unused = sorted(
        f"{where} {name}"
        for name, wheres in defs.items()
        for where in wheres
        if named[name] <= len(wheres) and name not in ALLOWED
    )
    assert not unused, "public defs named only by tests:\n" + "\n".join(unused)
    stale = sorted(n for n in ALLOWED if n not in defs or named[n] > len(defs[n]))
    assert not stale, f"allowlist entries that are used elsewhere or gone: {stale}"
