"""Every public def and method in ``vector_db_spark/`` is used by code outside
``tests/``: the rest of the package, ``bench.py``, ``__spark_entry__.py``,
``perfbench/`` or ``scripts/``. A def only tests use is surface nothing
ships; delete it with its tests, or allowlist it below, by qualified name,
with its reason.

Only names in code count (``ast.Name``, ``ast.Attribute`` and import
aliases), never a word in a comment or docstring. A module function ``f``
is used when code names ``f`` outside ``f``'s own body. A method ``C.m`` is
used when code accesses ``.m`` outside ``C.m``'s own body, in a file that
defines ``C``, names ``C`` or imports ``C``'s module. A use inside a def
that is itself unused does not count.

Every imported name is used, too (``test_no_unused_imports``)."""

from __future__ import annotations

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "vector_db_spark"

ALLOWED = {
    "vector_db_spark.functions.embedding.remote_embed":
        "the reference's HTTP embedding client (SURVEY E3)",
    "vector_db_spark.storage.NodeTable.all_ids":
        "the reference's list-all-ids call (SURVEY S5)",
    "vector_db_spark.operators.hybrid.idf_weights":
        "the reference BM25 IDF formula the hybrid tests compare against",
    "vector_db_spark.operators.hnsw_export.hnsw_graph_search":
        "the recall check that shows an exported HNSW graph is navigable",
    "vector_db_spark.plans.assert_scales":
        "the plan-audit contract helper the plan tests call",
    "vector_db_spark.operators.pq.PQModel.decode":
        "the reconstruction the OPQ tests measure distortion through",
    "vector_db_spark.operators.knn_graph.graph_connectivity":
        "the driver BFS the distributed kNN-graph components are checked against",
    "vector_db_spark.route.force_large":
        "the test seam that pins a route site to its large branch",
}


def _module(f: pathlib.Path) -> str:
    parts = f.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


class _Scan(ast.NodeVisitor):
    """The names one file uses in code, each with the defs enclosing it,
    and the modules it imports."""

    def __init__(self) -> None:
        self.names: list[tuple[str, tuple[ast.AST, ...]]] = []
        self.attrs: list[tuple[str, tuple[ast.AST, ...]]] = []
        self.modules: set[str] = set()
        self._defs: tuple[ast.AST, ...] = ()

    def visit_FunctionDef(self, node):
        outer, self._defs = self._defs, self._defs + (node,)
        self.generic_visit(node)
        self._defs = outer

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Name(self, node):
        self.names.append((node.id, self._defs))

    def visit_Attribute(self, node):
        self.names.append((node.attr, self._defs))
        self.attrs.append((node.attr, self._defs))
        self.generic_visit(node)

    def visit_Import(self, node):
        for a in node.names:
            self.modules.add(a.name)
            self.names += [(p, self._defs) for p in a.name.split(".")]
            if a.asname:
                self.names.append((a.asname, self._defs))

    def visit_ImportFrom(self, node):
        self.modules.add(node.module)
        for a in node.names:
            self.modules.add(f"{node.module}.{a.name}")
            self.names.append((a.name, self._defs))
            if a.asname:
                self.names.append((a.asname, self._defs))


def _registered(d: ast.FunctionDef) -> bool:
    """``@register(...)`` puts a query in the registry the driver reads."""
    return any(
        isinstance(dec, ast.Call) and getattr(dec.func, "id", None) == "register"
        for dec in d.decorator_list
    )


def _public_defs(tree: ast.Module, local_classes: set[str]):
    """``(class or None, def)`` for public module-level functions and
    methods of module-level classes. Methods of a class that extends a
    class from outside the package (a PySpark data source, an exception)
    are hooks its framework calls."""
    for node in tree.body:
        if isinstance(node, ast.FunctionDef):
            yield None, node
        elif isinstance(node, ast.ClassDef) and all(
            isinstance(b, ast.Name) and b.id in local_classes for b in node.bases
        ):
            yield from (
                (node, n) for n in node.body if isinstance(n, ast.FunctionDef)
            )


def _outside_package() -> list[pathlib.Path]:
    """The code outside the package and ``tests/`` that uses it."""
    files = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    files += sorted((ROOT / "perfbench").rglob("*.py"))
    return files + sorted((ROOT / "scripts").rglob("*.py"))


def _unused_public_defs() -> dict[str, str]:
    """Qualified name -> ``file:line`` of every public def or method that
    no code outside ``tests/`` uses."""
    package = sorted(PACKAGE.rglob("*.py"))
    trees = {f: ast.parse(f.read_text(), str(f)) for f in package + _outside_package()}
    scans = {}
    for f, tree in trees.items():
        scans[f] = _Scan()
        scans[f].visit(tree)
    named = {f: {n for n, _ in s.names} for f, s in scans.items()}
    local_classes = {
        n.name
        for f in package
        for n in trees[f].body
        if isinstance(n, ast.ClassDef)
    }

    # (qualified name, file, def, class or None) of every checked def
    checked = []
    for f in package:
        mod = _module(f)
        for cls, d in _public_defs(trees[f], local_classes):
            if not d.name.startswith("_") and not _registered(d):
                qual = f"{mod}.{cls.name}.{d.name}" if cls else f"{mod}.{d.name}"
                checked.append((qual, f, d, cls))

    # a use counts only from live code: outside every checked def, or
    # inside checked defs already found used (or allowlisted). Growing the
    # live set to a fixpoint reports a cluster of defs that only call each
    # other whole.
    nodes = {d for _, _, d, _ in checked}
    live = {d for q, _, d, _ in checked if q in ALLOWED}
    while True:
        def used(name, uses, body) -> bool:
            return any(
                n == name
                and body not in defs
                and all(e in live for e in defs if e in nodes)
                for n, defs in uses
            )

        unused = {}
        for qual, f, d, cls in checked:
            if cls is None:
                hit = any(used(d.name, s.names, d) for s in scans.values())
            else:
                mod = _module(f)
                hit = any(
                    used(d.name, s.attrs, d)
                    for g, s in scans.items()
                    if g == f or mod in s.modules or cls.name in named[g]
                )
            if not hit:
                unused[qual] = (f"{f.relative_to(ROOT)}:{d.lineno}", d)
        grown = {d for q, _, d, _ in checked if q not in unused or q in ALLOWED}
        if grown == live:
            return {q: where for q, (where, _) in unused.items()}
        live = grown


def test_no_public_def_is_named_only_by_tests():
    unused = _unused_public_defs()
    bad = sorted(f"{where} {q}" for q, where in unused.items() if q not in ALLOWED)
    assert not bad, "public defs used only by tests:\n" + "\n".join(bad)
    stale = sorted(q for q in ALLOWED if q not in unused)
    assert not stale, f"allowlist entries that are used elsewhere or gone: {stale}"


def _unused_imports(f: pathlib.Path) -> list[str]:
    """``file:line name`` of every name ``f`` imports and never uses. A
    use is a name in code or in a string annotation. Imports from
    ``__future__``, imports inside a ``try:`` body (availability probes)
    and names listed in ``__all__`` are exempt."""
    tree = ast.parse(f.read_text(), str(f))
    probes = {
        id(n) for t in ast.walk(tree) if isinstance(t, ast.Try)
        for stmt in t.body for n in ast.walk(stmt)
    }
    used = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Name):
            used.add(n.id)
        elif isinstance(n, ast.Assign) and any(
            getattr(t, "id", None) == "__all__" for t in n.targets
        ):
            used |= {e.value for e in n.value.elts}
        ann = getattr(n, "annotation", None) or getattr(n, "returns", None)
        if isinstance(ann, ast.AST):
            used |= {
                m.id
                for c in ast.walk(ann)
                if isinstance(c, ast.Constant) and isinstance(c.value, str)
                for m in ast.walk(ast.parse(c.value, mode="eval"))
                if isinstance(m, ast.Name)
            }
    return [
        f"{f.relative_to(ROOT)}:{n.lineno} {bound}"
        for n in ast.walk(tree)
        if isinstance(n, (ast.Import, ast.ImportFrom))
        and id(n) not in probes
        and getattr(n, "module", None) != "__future__"
        for a in n.names
        if (bound := a.asname or a.name.split(".")[0]) not in used
    ]


def test_no_unused_imports():
    """Every imported name is used. ``__init__.py`` files are exempt:
    their imports re-export names or register queries."""
    files = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    for d in ("vector_db_spark", "tests", "scripts"):
        files += sorted((ROOT / d).rglob("*.py"))
    bad = [
        b for f in files if f.name != "__init__.py" for b in _unused_imports(f)
    ]
    assert not bad, "unused imports:\n" + "\n".join(bad)



# Search options that no code outside tests sets, each with the reason it
# stays. Every other option with one value in use is a constant.
OPTIONS_ALLOWED = {
    "vector_db_spark.operators.ivf.IVFIndex.build.max_iter":
        "the Lloyd budget of the quantizer fit, beside its seed",
    "vector_db_spark.operators.ivf.IVFIndex.search.metric":
        "probes rank under the search metric (rank_probes), which a "
        "cosine or dot corpus needs; knn_join takes the same metrics",
    "vector_db_spark.operators.ivfpq.IVFPQIndex.build.vec_col":
        "the corpus vector column, set beside id_col as on IVFIndex.build",
    "vector_db_spark.operators.binquant.bq_search.metric":
        "the exact re-rank's metric: sign codes also rank cosine neighbors",
    "vector_db_spark.operators.similarity.lsh_search.n_tables":
        "corpus-scale geometry from derive_lsh_geometry(n); the fixture "
        "default is measured unusable at 200 k vectors",
    "vector_db_spark.operators.similarity.lsh_search.n_bits":
        "corpus-scale geometry from derive_lsh_geometry(n), with n_tables",
}

# the modules whose public defs' options need callers; a def name narrows
# a module to that def
OPTION_SCOPE = {
    "vector_db_spark.operators.knn": None,
    "vector_db_spark.operators.ivf": None,
    "vector_db_spark.operators.ivfpq": None,
    "vector_db_spark.operators.pq": None,
    "vector_db_spark.operators.opq": None,
    "vector_db_spark.operators.binquant": None,
    "vector_db_spark.operators.rerank": None,
    "vector_db_spark.operators.topk": None,
    "vector_db_spark.operators.similarity": "lsh_search",
    "vector_db_spark.api": None,
    "vector_db_spark.storage": None,
    "vector_db_spark.operators.kmeans": None,
    "vector_db_spark.operators.centroid_stats": None,
}


def _defaulted(d: ast.FunctionDef, method: bool) -> list[tuple[str, int | None]]:
    """``(name, positional index or None)`` of every parameter of ``d``
    that has a default. A method's positions do not count its bound first
    parameter (``self`` or ``cls``)."""
    pos = d.args.posonlyargs + d.args.args
    static = any(getattr(dec, "id", None) == "staticmethod" for dec in d.decorator_list)
    pos = pos if static or not method else pos[1:]
    first = len(pos) - len(d.args.defaults)
    return [(a.arg, i) for i, a in enumerate(pos) if i >= first] + [
        (a.arg, None)
        for a, default in zip(d.args.kwonlyargs, d.args.kw_defaults)
        if default is not None
    ]


def _unset_options() -> dict[str, str]:
    """Qualified ``def.option`` -> ``file:line`` of every defaulted
    parameter of an ``OPTION_SCOPE`` def that no call outside ``tests/``
    passes, by keyword or by position. A call is matched by the name it
    calls (``f(...)`` or ``x.f(...)``): index and model objects are passed
    around untyped, so only a call on a class by name (``C.f(...)``) is
    traced to its class."""
    package = sorted(PACKAGE.rglob("*.py"))
    trees = {f: ast.parse(f.read_text(), str(f)) for f in package + _outside_package()}
    local_classes = {
        n.name for f in package for n in trees[f].body if isinstance(n, ast.ClassDef)
    }
    # called name -> (class the call names or None, call)
    calls: dict[str, list[tuple[str | None, ast.Call]]] = {}
    for tree in trees.values():
        for c in ast.walk(tree):
            if isinstance(c, ast.Call) and isinstance(c.func, ast.Attribute):
                owner = getattr(c.func.value, "id", None)
                owner = owner if owner in local_classes else None
                calls.setdefault(c.func.attr, []).append((owner, c))
            elif isinstance(c, ast.Call) and isinstance(c.func, ast.Name):
                calls.setdefault(c.func.id, []).append((None, c))

    unset = {}
    for f in package:
        mod = _module(f)
        if mod not in OPTION_SCOPE:
            continue
        for cls, d in _public_defs(trees[f], local_classes):
            if d.name.startswith("_") or OPTION_SCOPE[mod] not in (None, d.name):
                continue
            qual = f"{mod}.{cls.name}.{d.name}" if cls else f"{mod}.{d.name}"
            for name, i in _defaulted(d, cls is not None):
                if not any(
                    any(kw.arg == name for kw in c.keywords) or (i is not None and i < len(c.args))
                    for owner, c in calls.get(d.name, [])
                    if owner in (None, cls and cls.name)
                ):
                    unset[f"{qual}.{name}"] = f"{f.relative_to(ROOT)}:{d.lineno}"
    return unset


def test_search_options_have_callers():
    """A search option exists only while code outside tests sets it."""
    unset = _unset_options()
    bad = sorted(f"{where} {q}" for q, where in unset.items() if q not in OPTIONS_ALLOWED)
    assert not bad, "options no caller outside tests sets:\n" + "\n".join(bad)
    stale = sorted(q for q in OPTIONS_ALLOWED if q not in unset)
    assert not stale, f"option allowlist entries that are set elsewhere or gone: {stale}"


def test_no_centroid_ranking_outside_ivf():
    """One mechanism per concern: every ranking of vectors against a
    broadcast centroid table (a cross join of one) lives in
    ``operators/ivf.py``, under its one centroid order."""
    ranking = re.compile(r"\.crossJoin\(\s*F\.broadcast\(\s*[\w.]*cent")
    offenders = [
        f"{f.relative_to(ROOT)}:{text.count(chr(10), 0, m.start()) + 1}"
        for f in sorted(PACKAGE.rglob("*.py"))
        if f != PACKAGE / "operators" / "ivf.py"
        for text in [f.read_text()]
        for m in ranking.finditer(text)
    ]
    assert offenders == []
