"""Guard: every module in the package is reached from its entry points,
or is named below as reached only by its tests.

The entry points are the CLI, the pipeline (local and remote), the DuckDB
export, the session factory and the query catalog. A module none of them
imports is dead code: delete it with its tests, or name it in
``TEST_ONLY`` so the dead weight stays visible."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import citibike_deep_dive_spark

PACKAGE = "citibike_deep_dive_spark"
ROOTS = ("__main__", "pipeline", "sources.remote", "sources.export", "session", "plans")

# Modules no entry point imports; only their own tests do.
TEST_ONLY = {
    f"{PACKAGE}.{m}"
    for m in (
        "functions.md5vec",
        "functions.stats",
        "operators.asof",
        "operators.codecs",
        "operators.corpus",
        "operators.geometry",
        "operators.sampling",
        "operators.skew",
        "sources.formats",
        "sources.webdataset",
        "streaming",
        "streaming.ingest",
        "streaming.stateful",
    )
}

_PROBE = f"""
import importlib, json, sys
for root in {ROOTS!r}:
    importlib.import_module("{PACKAGE}." + root)
print(json.dumps(sorted(m for m in sys.modules if m.split(".")[0] == "{PACKAGE}")))
"""


def _package_modules() -> set[str]:
    pkg_dir = Path(citibike_deep_dive_spark.__file__).parent
    out = set()
    for path in pkg_dir.rglob("*.py"):
        parts = path.relative_to(pkg_dir.parent).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out.add(".".join(parts))
    return out


def test_every_module_is_loaded_by_an_entry_point():
    repo = Path(citibike_deep_dive_spark.__file__).parents[1]
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE],
        cwd=repo,
        capture_output=True,
        text=True,
        check=True,
    )
    loaded = set(json.loads(proc.stdout.strip().splitlines()[-1]))
    files = _package_modules()
    assert files - loaded == TEST_ONLY, "modules no entry point imports"
    assert loaded - files == set(), "loaded modules with no file"
