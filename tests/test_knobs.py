"""No unused knobs in `qfilter/`: every defaulted parameter of a
function there is set by at least one call site in the repo.

A default that no caller overrides is a constant with extra steps: it
widens the signature, and every reader must check whether some caller
passes another value.  The check is static (AST only, no Spark).

Call sites are matched to definitions by name: ``f(...)`` and
``x.f(...)`` both match every ``def f`` in `qfilter/`, and
``Cls(...)`` matches ``Cls.__init__``.  A parameter counts as set when
a matching call passes it by keyword or by position, and a call that
spreads ``*args`` or ``**kwargs`` counts as setting every parameter.
Matching by name can only over-count uses, so a reported parameter is
unset for certain.
"""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CALLER_DIRS = ("qfilter", "tests", "tools", "oracle", "perfbench", "BENCH")
CALLER_FILES = ("bench.py", "__spark_entry__.py")


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), filename=path)


def _defaulted(fn: ast.FunctionDef | ast.AsyncFunctionDef, bound: bool):
    """(name, positional index or None if keyword-only) of each
    defaulted parameter; ``bound`` drops the leading self/cls."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first_default = len(pos) - len(a.defaults)
    out = [(p.arg, i) for i, p in enumerate(pos) if i >= first_default]
    if bound:
        out = [(name, i - 1) for name, i in out]
    out += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def _knobs() -> dict[tuple[str, str, str], int | None]:
    """(module, callable name, parameter) -> positional index."""
    knobs = {}
    for path in sorted(glob.glob(os.path.join(REPO, "qfilter", "*.py"))):
        mod = os.path.basename(path)[:-3]
        tree = _parse(path)
        methods = {}
        for cls in ast.walk(tree):
            if isinstance(cls, ast.ClassDef):
                for m in cls.body:
                    if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        methods[m] = cls.name
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            static = any(
                isinstance(d, ast.Name) and d.id == "staticmethod"
                for d in fn.decorator_list
            )
            bound = fn in methods and not static
            name = methods[fn] if fn in methods and fn.name == "__init__" else fn.name
            for param, idx in _defaulted(fn, bound):
                knobs[(mod, name, param)] = idx
    return knobs


def _calls() -> dict[str, list[ast.Call]]:
    paths = [os.path.join(REPO, f) for f in CALLER_FILES]
    for d in CALLER_DIRS:
        paths += glob.glob(os.path.join(REPO, d, "**", "*.py"), recursive=True)
    calls: dict[str, list[ast.Call]] = {}
    for path in sorted(paths):
        for node in ast.walk(_parse(path)):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name:
                    calls.setdefault(name, []).append(node)
    return calls


def _sets(call: ast.Call, param: str, idx: int | None) -> bool:
    if any(isinstance(a, ast.Starred) for a in call.args):
        return True
    if any(k.arg is None or k.arg == param for k in call.keywords):
        return True
    return idx is not None and len(call.args) > idx


def test_every_defaulted_parameter_is_set_by_some_call_site():
    calls = _calls()
    unset = [
        f"{mod}.{fn}({param})"
        for (mod, fn, param), idx in sorted(_knobs().items())
        if not any(_sets(c, param, idx) for c in calls.get(fn, []))
    ]
    assert not unset, (
        f"{len(unset)} defaulted parameters in qfilter/ are set by no call "
        "site; make each the constant it always is:\n  " + "\n  ".join(unset)
    )
