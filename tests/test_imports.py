"""Import guard: every engine import in the package, the tests and the
benchmark must resolve.

``perfbench/`` imports the engine lazily inside its workload functions,
so a removed module or function there only fails once a benchmark run
reaches it.  This scan reads the source with ``ast`` (function-local
imports included) and checks each ``trade_data_collection_service_spark``
import against the package, without starting Spark.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
PKG = "trade_data_collection_service_spark"
FILES = sorted(
    p
    for d in (PKG, "tests", "perfbench")
    for p in (ROOT / d).rglob("*.py")
)


def _imports(path: Path) -> list[tuple[str, str | None]]:
    """(module, name) for every import in ``path``; name is None for a
    plain ``import module``."""
    out: list[tuple[str, str | None]] = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out += [(a.name, None) for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            out += [(node.module, a.name) for a in node.names]
    return out


def test_scan_sees_the_lazy_benchmark_imports():
    mods = {m for m, _ in _imports(ROOT / "perfbench" / "workloads.py")}
    assert f"{PKG}.streaming.pipeline" in mods


@pytest.mark.parametrize("path", FILES, ids=lambda p: str(p.relative_to(ROOT)))
def test_engine_imports_resolve(path):
    for module, name in _imports(path):
        if module.split(".")[0] != PKG:
            continue
        assert importlib.util.find_spec(module) is not None, module
        if name is None or name == "*":
            continue
        mod = importlib.import_module(module)
        submodule = hasattr(mod, "__path__") and importlib.util.find_spec(
            f"{module}.{name}"
        )
        assert hasattr(mod, name) or submodule, f"{path.name}: {module} has no {name}"
