"""Reachability guard: library code lives because production code uses it.

Every top-level public function, class and constant in
``documentconvert_spark`` must be referenced from non-test code — the
package itself, ``jobs``, ``scripts``, ``extractbench``,
``__spark_entry__.py`` or ``bench.py``. A reference inside the defining
module counts only outside the defining statement, so recursion or a
docstring mentioning itself does not keep a name alive. References are
names, attribute accesses, imports, and identifiers inside non-docstring
string literals (the benchmark scripts run code snippets held in
strings). Code that only tests reach gets wired into a job or query, or
deleted together with its tests; the allowlist below names the few kept
on purpose. Private module-level names (leading underscore) follow the
same rule with no allowlist: a helper only a test uses moves into that
test. The package's own import graph, counting imports inside functions
too, has no cycle: each layer imports only the layers under it.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "documentconvert_spark"
NON_TEST_DIRS = (PACKAGE, "jobs", "scripts", "extractbench")
NON_TEST_FILES = ("__spark_entry__.py", "bench.py")

ALLOWLIST = {
    "pipeline.read_committed_output": "read half of the crash-safety protocol: orphan run_id= dirs exist by design",
    "ops.dedup.verify_pairs_jaccard": "the exact oracle the LSH test compares against",
}

_IDENT = re.compile(r"[A-Za-z_]\w*")


def _non_test_sources() -> list[Path]:
    files = [REPO / f for f in NON_TEST_FILES]
    for d in NON_TEST_DIRS:
        files += [
            p for p in sorted((REPO / d).rglob("*.py"))
            if "tests" not in p.relative_to(REPO).parts
        ]
    return files


def _docstrings(tree: ast.AST) -> set[int]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            for stmt in node.body:
                if isinstance(stmt, ast.Expr) and isinstance(stmt.value, ast.Constant):
                    out.add(id(stmt.value))
    return out


def _references(stmt: ast.AST, docstrings: set[int]) -> set[str]:
    out = set()
    for n in ast.walk(stmt):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and id(n) not in docstrings:
            out.update(_IDENT.findall(n.value))
    return out


def _defined(stmt: ast.stmt, private: bool) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        names = [stmt.name]
    elif isinstance(stmt, ast.Assign):
        names = [t.id for t in stmt.targets if isinstance(t, ast.Name)]
    elif isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
        names = [stmt.target.id]
    else:
        names = []
    return [n for n in names
            if n.startswith("_") == private and not (n.startswith("__") and n.endswith("__"))]


def _qualname(path: Path, name: str) -> str:
    parts = list(path.relative_to(REPO / PACKAGE).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join([*parts, name])


def _unreached(private: bool) -> list[str]:
    refs: dict[tuple[Path, int], set[str]] = {}
    defs: list[tuple[Path, int, str]] = []
    for path in _non_test_sources():
        tree = ast.parse(path.read_text(encoding="utf-8"), str(path))
        docstrings = _docstrings(tree)
        in_package = path.relative_to(REPO).parts[0] == PACKAGE
        for i, stmt in enumerate(tree.body):
            refs[(path, i)] = _references(stmt, docstrings)
            if in_package:
                defs += [(path, i, name) for name in _defined(stmt, private)]
    return sorted(
        _qualname(path, name)
        for path, i, name in defs
        if not any(name in r for key, r in refs.items() if key != (path, i))
    )


def test_every_public_package_symbol_is_reached_from_non_test_code():
    unreached = _unreached(private=False)
    assert unreached == sorted(ALLOWLIST), (
        "unreached (wire in or delete): "
        f"{sorted(set(unreached) - set(ALLOWLIST))}; "
        f"stale allowlist entries: {sorted(set(ALLOWLIST) - set(unreached))}"
    )


def test_every_private_package_name_is_referenced_from_non_test_code():
    unreferenced = _unreached(private=True)
    assert unreferenced == [], f"unreferenced private names (delete or move into their test): {unreferenced}"


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imported_modules(stmt: ast.stmt, importer: str, modules: set[str]) -> set[str]:
    """Package modules one import statement names: ``import a.b`` names
    ``a.b``; ``from a.b import c`` names ``a.b`` and, when ``c`` is a
    module, ``a.b.c`` too (so ``from pkg import sub`` also runs the
    package's ``__init__``)."""
    if isinstance(stmt, ast.Import):
        names = {a.name for a in stmt.names}
    elif isinstance(stmt, ast.ImportFrom) and stmt.level == 0 and stmt.module:
        names = {stmt.module} | {f"{stmt.module}.{a.name}" for a in stmt.names}
    else:
        return set()
    return {m for m in names if m in modules and m != importer}


def _import_cycles() -> list[tuple[str, ...]]:
    """Each set of modules that import one another, directly or through
    other package modules (a strongly connected component of >1 module)."""
    files = sorted((REPO / PACKAGE).rglob("*.py"))
    modules = {_module_name(p) for p in files}
    graph = {}
    for path in files:
        name = _module_name(path)
        tree = ast.parse(path.read_text(encoding="utf-8"), str(path))
        graph[name] = set().union(*(_imported_modules(n, name, modules) for n in ast.walk(tree)))
    reach = {}
    for v in graph:
        seen, todo = set(), list(graph[v])
        while todo:
            w = todo.pop()
            if w not in seen:
                seen.add(w)
                todo.extend(graph[w])
        reach[v] = seen
    return sorted({tuple(sorted(w for w in reach[v] if v in reach[w])) for v in graph if v in reach[v]})


def test_package_import_graph_is_acyclic():
    cycles = _import_cycles()
    assert not cycles, f"import cycles (move the shared code down a layer): {cycles}"
