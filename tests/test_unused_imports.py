"""No package module imports a name it never uses.

The repo runs no linter, so this is the check: every name an ``import``
binds, at module scope or inside a function, is referenced in that
scope.  A re-export says so with ``# noqa: F401`` on its import line
(the package ``__init__`` modules) or by listing the name in
``__all__``."""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "signal_messenger_vector_database_spark")

_SCOPES = (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef)


def _unused_imports(path: str) -> list[str]:
    src = open(path).read()
    lines = src.splitlines()
    tree = ast.parse(src)
    exported = {
        e.value
        for n in tree.body
        if isinstance(n, ast.Assign)
        and any(isinstance(t, ast.Name) and t.id == "__all__" for t in n.targets)
        for e in n.value.elts
    }
    hits = []

    def visit(scope: ast.AST, node: ast.AST) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.Import, ast.ImportFrom)):
                if getattr(child, "module", None) == "__future__":
                    continue
                if "noqa: F401" in lines[child.lineno - 1]:
                    continue
                used = {n.id for n in ast.walk(scope) if isinstance(n, ast.Name)}
                for a in child.names:
                    name = (a.asname or a.name).split(".")[0]
                    if a.name != "*" and name not in used | exported:
                        rel = os.path.relpath(path, REPO)
                        hits.append(f"{rel}:{child.lineno}: {name}")
            visit(child if isinstance(child, _SCOPES) else scope, child)

    visit(tree, tree)
    return hits


def test_no_unused_imports():
    hits = []
    for path in sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)):
        hits += _unused_imports(path)
    assert not hits, "\n".join(hits)
