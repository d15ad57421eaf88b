"""Every engine module is reached from a program that runs it: the jobs,
the tools, the benchmark, ``bench.py`` or ``__spark_entry__.py``. The
walk reads ``import`` statements with ``ast`` and executes none, so a
module that only tests import shows up here by name."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "rad_ecg_spark"


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imported(path: Path, modules: dict[str, Path]) -> set[str]:
    """Engine modules ``path`` imports, with the packages that hold them
    (importing ``a.b.c`` runs ``a`` and ``a.b`` first). The engine
    imports by absolute name only."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    reached = set()
    for name in names:
        parts = name.split(".")
        reached.update(
            ".".join(parts[:i])
            for i in range(1, len(parts) + 1)
            if ".".join(parts[:i]) in modules
        )
    return reached


def test_every_engine_module_is_reached_outside_tests():
    modules = {_module_name(p): p for p in (ROOT / PACKAGE).rglob("*.py")}
    entries = [
        *ROOT.glob("jobs/*.py"),
        *ROOT.glob("tools/*.py"),
        *ROOT.glob("perfbench/*.py"),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ]
    seen: set[str] = set()
    todo = list(entries)
    while todo:
        for name in _imported(todo.pop(), modules) - seen:
            seen.add(name)
            todo.append(modules[name])
    unreached = sorted(set(modules) - seen)
    assert not unreached, f"engine modules only tests reach: {unreached}"
