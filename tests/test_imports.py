"""Every mundipy_spark import in the package, the driver entry and the
tools names a module (and attribute) that exists — including function-
local lazy imports, which no other test executes."""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "mundipy_spark"


def _sources() -> list[str]:
    files = glob.glob(os.path.join(REPO, PKG, "**", "*.py"), recursive=True)
    files += glob.glob(os.path.join(REPO, "tools", "*.py"))
    files += glob.glob(os.path.join(REPO, "spatialbench", "*.py"))
    files.append(os.path.join(REPO, "__spark_entry__.py"))
    return sorted(files)


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read())


def _module_path(name: str) -> str | None:
    base = os.path.join(REPO, *name.split("."))
    for p in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(p):
            return p
    return None


def _top_level_names(path: str) -> set[str]:
    names: set[str] = set()
    stack = list(_parse(path).body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names.update(
                n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)
            )
        elif isinstance(node, (ast.If, ast.Try)):
            stack += node.body + node.orelse + getattr(node, "finalbody", [])
            stack += [s for h in getattr(node, "handlers", []) for s in h.body]
    return names


def test_every_package_import_resolves():
    missing = []
    for path in _sources():
        rel = os.path.relpath(path, REPO)
        for node in ast.walk(_parse(path)):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.name.split(".")[0] == PKG and not _module_path(a.name):
                        missing.append(f"{rel}:{node.lineno} {a.name}")
            elif isinstance(node, ast.ImportFrom) and node.level == 0:
                mod = node.module or ""
                if mod.split(".")[0] != PKG:
                    continue
                mod_path = _module_path(mod)
                if mod_path is None:
                    missing.append(f"{rel}:{node.lineno} {mod}")
                    continue
                defined = _top_level_names(mod_path)
                for a in node.names:
                    if a.name in defined or _module_path(f"{mod}.{a.name}"):
                        continue
                    missing.append(f"{rel}:{node.lineno} {mod}.{a.name}")
    assert not missing, missing


def test_every_driver_query_has_an_oracle():
    import __spark_entry__ as entry_mod

    assert set(entry_mod.queries()) == set(entry_mod.oracle_sql())
