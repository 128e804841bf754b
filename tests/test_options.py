"""Guard: every default-valued parameter in spider_spark/ is set by some
caller. A default no call site overrides is a configuration nothing
tests or benchmarks; it belongs in a module constant or a literal.

Pure AST scan (no Spark). Calls are matched to definitions by bare
function name, so a call to any same-named function counts: the scan
can miss a knob, never invent one. A parameter counts as set when a
call passes it by keyword, passes enough positional arguments to reach
it, or unpacks ``*args``/``**kwargs``.
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
