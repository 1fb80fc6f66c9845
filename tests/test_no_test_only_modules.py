"""Every `cflog2otel_spark` module is imported by some non-test file.

A module that only its own tests import is a path the product never
runs: delete it rather than keep it alive. Pure `ast`, no JVM, no git:
each `.py` under the repo root outside a `tests/` directory (main.py,
bench.py, perfbench, scripts and the package itself; hidden directories
such as `.perfbench_work`, and `__pycache__`, skipped) is parsed, relative imports
are resolved, and imports inside functions count."""

from __future__ import annotations

import ast
import os
from pathlib import Path

from .conftest import REPO

PACKAGE = "cflog2otel_spark"


def _module_name(rel: Path) -> str:
    parts = list(rel.with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imported_names(rel: Path, tree: ast.AST) -> set[str]:
    """Dotted names `rel` imports; for `from M import n`, both M and M.n
    (n may be a submodule)."""
    package = _module_name(rel).split(".")
    if rel.name != "__init__.py":
        package = package[:-1]
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names |= {a.name for a in node.names}
        elif isinstance(node, ast.ImportFrom):
            base = package[: len(package) - node.level + 1] if node.level else []
            mod = ".".join(base + ([node.module] if node.module else []))
            names.add(mod)
            names |= {f"{mod}.{a.name}" for a in node.names}
    return names


def _py_files(root: str) -> list[Path]:
    """Every `.py` under `root`, relative to it."""
    files = []
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith(".") and d != "__pycache__"]
        rel = Path(dirpath).relative_to(root)
        files += [rel / f for f in filenames if f.endswith(".py")]
    return files


def test_every_package_module_has_a_non_test_importer():
    files = _py_files(REPO)
    modules = {_module_name(p) for p in files if p.parts[0] == PACKAGE}
    assert f"{PACKAGE}.pipeline" in modules

    imported: set[str] = set()
    for rel in files:
        if "tests" in rel.parts:
            continue
        names = _imported_names(rel, ast.parse((Path(REPO) / rel).read_bytes(), str(rel)))
        imported |= names - {_module_name(rel)}

    def reached(mod: str) -> bool:
        return any(n == mod or n.startswith(mod + ".") for n in imported)

    assert sorted(m for m in modules if not reached(m)) == []
