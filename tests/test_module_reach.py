"""Every engine module is reached from a program that runs it: the jobs,
the tools, the benchmark, ``bench.py`` or ``__spark_entry__.py``; and
every engine option is set by one. Both walks read the source with
``ast`` and execute none, so a module that only tests import, or a
parameter that only tests pass, shows up here by name."""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path
from typing import NamedTuple

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


def _entries() -> list[Path]:
    return [
        *ROOT.glob("jobs/*.py"),
        *ROOT.glob("tools/*.py"),
        *ROOT.glob("perfbench/*.py"),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ]


def test_every_engine_module_is_reached_outside_tests():
    modules = {_module_name(p): p for p in (ROOT / PACKAGE).rglob("*.py")}
    seen: set[str] = set()
    todo = _entries()
    while todo:
        for name in _imported(todo.pop(), modules) - seen:
            seen.add(name)
            todo.append(modules[name])
    unreached = sorted(set(modules) - seen)
    assert not unreached, f"engine modules only tests reach: {unreached}"


class _Def(NamedTuple):
    where: str
    params: list[str]  # in call order, a method's ``self`` dropped
    defaulted: list[str]


def _def(path: Path, name: str, fn: ast.FunctionDef, method: bool) -> _Def:
    a = fn.args
    pos = [x.arg for x in a.posonlyargs + a.args][1 if method else 0 :]
    defaulted = pos[len(pos) - len(a.defaults) :] if a.defaults else []
    defaulted += [x.arg for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return _Def(f"{path.relative_to(ROOT)}:{name}", pos + [x.arg for x in a.kwonlyargs],
                defaulted)


def _engine_defs(paths) -> dict[str, list[_Def]]:
    """Every ``def`` in ``paths`` by name, nested ones included; a class
    is listed under its own name with its ``__init__`` signature. The
    engine has no static methods and no ``**kwargs`` parameters."""
    defs: dict[str, list[_Def]] = defaultdict(list)
    for path in paths:
        tree = ast.parse(path.read_text())
        methods = set()
        for cls in ast.walk(tree):
            if isinstance(cls, ast.ClassDef):
                for fn in cls.body:
                    if isinstance(fn, ast.FunctionDef):
                        methods.add(fn)
                        if fn.name == "__init__":
                            defs[cls.name].append(_def(path, cls.name, fn, True))
        for fn in ast.walk(tree):
            if isinstance(fn, ast.FunctionDef):
                defs[fn.name].append(_def(path, fn.name, fn, fn in methods))
    return defs


def _called_name(call: ast.Call) -> str | None:
    f = call.func
    return f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None


def _engine_bound_calls(path: Path, modules: dict[str, Path]):
    """(name, call) for the calls in ``path`` that bind to an engine
    function by import: a name imported from an engine module (or, in an
    engine module, defined at its top level), or an attribute of an
    engine module alias. A method called on an object is not resolved
    here: its name may belong to Spark or the standard library."""
    tree = ast.parse(path.read_text())
    names: dict[str, str] = {}
    mods: set[str] = set()
    if PACKAGE in path.relative_to(ROOT).parts[:1]:
        names.update(
            (n.name, n.name) for n in tree.body
            if isinstance(n, (ast.FunctionDef, ast.ClassDef))
        )
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PACKAGE):
            for a in node.names:
                if f"{node.module}.{a.name}" in modules:
                    mods.add(a.asname or a.name)
                else:
                    names[a.asname or a.name] = a.name
        elif isinstance(node, ast.Import):
            mods.update(
                a.asname for a in node.names if a.asname and a.name.startswith(PACKAGE)
            )
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if isinstance(f, ast.Name) and f.id in names:
            yield names[f.id], node
        elif (
            isinstance(f, ast.Attribute)
            and isinstance(f.value, ast.Name)
            and f.value.id in mods
        ):
            yield f.attr, node


def _programs() -> list[Path]:
    return _entries() + sorted((ROOT / PACKAGE).rglob("*.py"))


def test_every_engine_option_is_set_by_a_program():
    """(a) Every defaulted parameter of an engine function that a
    program calls is passed by some program, so no option exists that
    only tests set (with one value in use, the option is a constant).
    Calls match by name, attribute calls included, and the engine's own
    calls count. (b) Every keyword a program passes to an engine
    function whose name is defined once names one of its parameters,
    so an option the benchmark sets (``connected_components(method=)``,
    ``CheckpointManager(async_write=)``, ``pages_to_edges(dedupe=)``)
    cannot be renamed away under it.

    ``sources/`` is left out of (a): its generator knobs shape the
    inputs of the parallelism-invariance and hub-split tests and of the
    open 50M-edge skew re-measurement. A function no program calls is
    skipped by (a): ``IcebergSink``, the Iceberg checkpoint seam that
    ROADMAP direction 6 keeps, has no caller to pass its options. The
    stats dataclasses are records the operators fill, not options, so
    only ``def`` signatures count."""
    modules = {_module_name(p): p for p in (ROOT / PACKAGE).rglob("*.py")}
    engine = sorted((ROOT / PACKAGE).rglob("*.py"))
    calls: dict[str, list[ast.Call]] = defaultdict(list)
    for path in _programs():
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call):
                calls[_called_name(node)].append(node)

    options = _engine_defs(p for p in engine if "sources" not in p.parts)
    unset = []
    for name, defs in options.items():
        for d in defs:
            if not calls[name] or not d.defaulted:
                continue
            passed = set()
            for c in calls[name]:
                if any(isinstance(a, ast.Starred) for a in c.args) or any(
                    k.arg is None for k in c.keywords
                ):
                    passed.update(d.params)
                passed.update(d.params[: len(c.args)])
                passed.update(k.arg for k in c.keywords)
            unset += [(d.where, p) for p in d.defaulted if p not in passed]
    assert not unset, (
        f"{len(unset)} engine options in {len({w for w, _ in unset})} functions "
        f"that no program sets: {[f'{w}({p})' for w, p in unset]}"
    )

    defs = _engine_defs(engine)
    unbound = []
    for path in _programs():
        for name, c in _engine_bound_calls(path, modules):
            if len(defs.get(name, ())) != 1:
                continue
            unbound += [
                f"{path.relative_to(ROOT)}:{c.lineno} {name}({k.arg}=)"
                for k in c.keywords
                if k.arg is not None and k.arg not in defs[name][0].params
            ]
    assert not unbound, f"keywords that name no parameter: {unbound}"
