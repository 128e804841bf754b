"""Guards on what spider_spark/ may contain. Pure AST scans (no Spark).

Options: every default-valued parameter is set by some caller. A default
no call site overrides is a configuration nothing tests or benchmarks;
it belongs in a module constant or a literal. Calls are matched to
definitions by bare function name, so a call to any same-named function
counts: the scan can miss a knob, never invent one. A parameter counts
as set when a call passes it by keyword, passes enough positional
arguments to reach it, or unpacks ``*args``/``**kwargs``.

Twin gates: a driver twin is chosen by input size inside its operator,
never by a caller. No parameter is named ``small_*`` or defaults to a
``SMALL_*`` constant, and no test or tool reassigns a ``SMALL_*``
constant; tests reach a distributed loop by calling its function.

Reachability: every top-level definition is reached from a shipped entry
point. Names are followed by bare name too, so the scan can miss dead
code (a same-named definition or attribute elsewhere masks it), never
invent it.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
ENGINE = REPO / "spider_spark"
CALLERS = ["spider_spark", "__spark_entry__.py", "tools", "tests", "perfbench", "bench.py"]


def _py_files(rel: str):
    path = REPO / rel
    if path.suffix == ".py":
        return [path] if path.exists() else []
    return sorted(path.rglob("*.py"))


def _defaulted_params(fn: ast.FunctionDef):
    """(name, positional index or None for keyword-only) per default."""
    pos = fn.args.posonlyargs + fn.args.args
    skip = 1 if pos and pos[0].arg in ("self", "cls") else 0
    first = len(pos) - len(fn.args.defaults)
    out = [(a.arg, i - skip) for i, a in enumerate(pos) if i >= first]
    out += [
        (a.arg, None)
        for a, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults)
        if d is not None
    ]
    return out


def _calls_by_name():
    calls = defaultdict(list)
    for rel in CALLERS:
        for f in _py_files(rel):
            for node in ast.walk(ast.parse(f.read_text())):
                if not isinstance(node, ast.Call):
                    continue
                fn = node.func
                if isinstance(fn, ast.Name):
                    calls[fn.id].append(node)
                elif isinstance(fn, ast.Attribute):
                    calls[fn.attr].append(node)
    return calls


def _is_set(name: str, idx: int | None, call: ast.Call) -> bool:
    if any(k.arg in (name, None) for k in call.keywords):
        return True
    if idx is None:
        return False
    return any(isinstance(a, ast.Starred) for a in call.args) or len(call.args) > idx


def never_set_params() -> list[str]:
    calls = _calls_by_name()
    unset = []
    for f in sorted(ENGINE.rglob("*.py")):
        for node in ast.walk(ast.parse(f.read_text())):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for name, idx in _defaulted_params(node):
                if not any(_is_set(name, idx, c) for c in calls.get(node.name, [])):
                    unset.append(f"{f.relative_to(REPO)}::{node.name}({name}=)")
    return unset


def test_every_default_parameter_is_set_by_a_caller():
    unset = never_set_params()
    assert not unset, (
        f"{len(unset)} default-valued parameters no caller sets "
        "(make each a constant or literal):\n" + "\n".join(unset)
    )


# --- twin gates -------------------------------------------------------------


def _names_gate(node) -> bool:
    """``node`` names a SMALL_* twin gate: NAME, mod.NAME or "mod.NAME"."""
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        name = node.value.rsplit(".", 1)[-1]
    else:
        name = getattr(node, "id", getattr(node, "attr", ""))
    return name.startswith("SMALL_")


def twin_gate_overrides() -> list[str]:
    out = []
    for f in sorted(ENGINE.rglob("*.py")):
        for node in ast.walk(ast.parse(f.read_text())):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = node.args
            pos = a.posonlyargs + a.args
            defaults = [None] * (len(pos) - len(a.defaults)) + a.defaults
            for arg, d in zip(pos + a.kwonlyargs, defaults + a.kw_defaults):
                if arg.arg.startswith("small_") or _names_gate(d):
                    out.append(f"{f.relative_to(REPO)}::{node.name}({arg.arg}=)")
    for rel in ("tests", "tools"):
        for f in _py_files(rel):
            for node in ast.walk(ast.parse(f.read_text())):
                if isinstance(node, ast.Call):
                    fn = node.func
                    is_setattr = getattr(fn, "attr", getattr(fn, "id", "")) == "setattr"
                    targets = node.args[:2] if is_setattr else []
                elif isinstance(node, (ast.Assign, ast.AugAssign)):
                    targets = getattr(node, "targets", [getattr(node, "target", None)])
                    targets = [t for t in targets if isinstance(t, ast.Attribute)]
                else:
                    continue
                if any(_names_gate(t) for t in targets):
                    out.append(f"{f.relative_to(REPO)}:{node.lineno} reassigns a SMALL_* gate")
    return out


def test_no_caller_picks_a_twin_path():
    found = twin_gate_overrides()
    assert not found, (
        f"{len(found)} ways to force a driver twin's path from outside "
        "(gate on input size inside the operator; tests call the loop "
        "function directly):\n" + "\n".join(found)
    )


# --- reachability -----------------------------------------------------------
# Engine code is what a shipped entry point reaches: the driver contract,
# the per-query bench, the tools and perfbench. Tests check the engine;
# they do not make code part of it.
ENTRY_POINTS = ["__spark_entry__.py", "bench.py", "tools", "perfbench"]


def _used_names(tree: ast.AST) -> set[str]:
    """Every bare name an AST mentions: loads, attribute names,
    ``from … import`` names, and identifier-shaped string constants
    (``getattr``-style references)."""
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif isinstance(node, ast.alias):
            names.add(node.asname or node.name.rsplit(".", 1)[-1])
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node.value.isidentifier():
                names.add(node.value)
    return names


def _defined_names(stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, (ast.Assign, ast.AnnAssign)):
        targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
        return [t.id for t in targets if isinstance(t, ast.Name)]
    return []


def unreached_definitions() -> list[str]:
    defs = defaultdict(list)  # bare name -> [(where, defining statement)]
    roots = set()
    for f in sorted(ENGINE.rglob("*.py")):
        for stmt in ast.parse(f.read_text()).body:
            names = _defined_names(stmt)
            if not names:
                if not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                    roots |= _used_names(stmt)  # module-level code runs on import
                continue
            for name in names:
                defs[name].append((f"{f.relative_to(REPO)}::{name}", stmt))
    for rel in ENTRY_POINTS:
        for f in _py_files(rel):
            roots |= _used_names(ast.parse(f.read_text()))
    seen, todo = set(), list(roots)
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for _, stmt in defs.get(name, []):
            todo.extend(_used_names(stmt) - seen)
    return sorted(
        where
        for name, sites in defs.items()
        if name not in seen and not (name.startswith("__") and name.endswith("__"))
        for where, _ in sites
    )


def test_every_engine_definition_is_reached_from_an_entry_point():
    unreached = unreached_definitions()
    assert not unreached, (
        f"{len(unreached)} spider_spark/ definitions no entry point reaches "
        f"({', '.join(ENTRY_POINTS)}); delete them, or move test-only "
        "helpers into tests/:\n" + "\n".join(unreached)
    )
