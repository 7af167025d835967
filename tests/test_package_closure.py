"""Guard: every module in the package is reached from its entry points.

The entry points are the CLI, the pipeline (local and remote), the DuckDB
export, the session factory and the query catalog. A module is reached
when a reached module names it in any ``import`` or ``from`` statement,
including one inside a function, so a module that a catalog entry
imports only when it runs counts as reached. A module none of them
reaches is dead code: delete it with its tests."""

from __future__ import annotations

import ast
from pathlib import Path

import citibike_deep_dive_spark

PACKAGE = "citibike_deep_dive_spark"
ROOTS = ("__main__", "pipeline", "sources.remote", "sources.export", "session", "plans")


def _package_modules() -> dict[str, Path]:
    """Every module of the package, by dotted name, with its file."""
    pkg_dir = Path(citibike_deep_dive_spark.__file__).parent
    out = {}
    for path in pkg_dir.rglob("*.py"):
        parts = path.relative_to(pkg_dir.parent).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out[".".join(parts)] = path
    return out


def _imported_names(module: str, path: Path) -> tuple[set[str], set[str]]:
    """The modules that ``module``'s import statements load, and the
    names they import from them (some of which are submodules)."""
    package = module if path.name == "__init__.py" else module.rpartition(".")[0]
    modules, names = set(), set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            modules.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package.split(".")[: len(package.split(".")) - node.level + 1]
                target = ".".join(base + ([node.module] if node.module else []))
            else:
                target = node.module
            modules.add(target)
            names.update(f"{target}.{alias.name}" for alias in node.names)
    return modules, names


def _with_parents(module: str) -> set[str]:
    """Importing ``a.b.c`` runs ``a`` and ``a.b`` too."""
    parts = module.split(".")
    return {".".join(parts[:i]) for i in range(1, len(parts) + 1)}


def test_every_module_is_loaded_by_an_entry_point():
    files = _package_modules()
    reached: set[str] = set()
    missing: set[str] = set()
    todo = [f"{PACKAGE}.{root}" for root in ROOTS]
    while todo:
        module = todo.pop()
        if module in reached:
            continue
        reached.add(module)
        modules, names = _imported_names(module, files[module])
        ours = {m for m in modules if m.split(".")[0] == PACKAGE}
        missing |= ours - files.keys()
        for m in ours | names:
            todo.extend(p for p in _with_parents(m) if p in files)
    assert set(files) - reached == set(), "modules no entry point imports"
    assert missing == set(), "imports of package modules with no file"
