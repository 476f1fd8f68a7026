"""Every defaulted parameter of a public function is set by some call.

A parameter with a default that no call in the package, ``tests/``,
``benchmark/`` or the root scripts passes, by keyword or by position,
has one value in use: it is a constant, and each such option costs a
reader and a test a configuration nobody runs.  Covered: the public
top-level functions of ``datapipe/``, ``kernels/``, ``parallel.py``,
``io/templates.py`` and ``io/review.py``.

Calls are matched by the called name alone (``f(...)`` or
``mod.f(...)``), so a same-named call anywhere counts as a use; a call
that spreads ``*args`` or ``**kwargs`` counts as passing every
parameter it could reach.
"""

from __future__ import annotations

import ast

from test_no_dead_definitions import PACKAGE, ROOT, _scanned_files

COVERED = sorted([*(PACKAGE / "datapipe").glob("*.py"),
                  *(PACKAGE / "kernels").glob("*.py"),
                  PACKAGE / "parallel.py",
                  PACKAGE / "io" / "templates.py",
                  PACKAGE / "io" / "review.py"])


def _calls_by_name(trees) -> dict[str, list[ast.Call]]:
    calls: dict[str, list[ast.Call]] = {}
    for tree in trees:
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                func = node.func
                name = (func.id if isinstance(func, ast.Name)
                        else func.attr if isinstance(func, ast.Attribute)
                        else None)
                if name:
                    calls.setdefault(name, []).append(node)
    return calls


def _defaulted(fn: ast.FunctionDef):
    """(name, positional index or None) of each defaulted parameter."""
    positional = [a.arg for a in fn.args.posonlyargs + fn.args.args]
    for name in positional[len(positional) - len(fn.args.defaults):]:
        yield name, positional.index(name)
    for arg, default in zip(fn.args.kwonlyargs, fn.args.kw_defaults):
        if default is not None:
            yield arg.arg, None


def _passes(call: ast.Call, name: str, index: int | None) -> bool:
    if any(k.arg in (name, None) for k in call.keywords):
        return True
    return index is not None and (
        len(call.args) > index
        or any(isinstance(a, ast.Starred) for a in call.args))


def test_every_default_is_overridden_by_some_call():
    trees = {p: ast.parse(p.read_text(), filename=str(p))
             for p in _scanned_files()}
    calls = _calls_by_name(trees.values())
    unset = []
    for path in COVERED:
        for fn in trees[path].body:
            if not isinstance(fn, ast.FunctionDef) or fn.name.startswith("_"):
                continue
            for name, index in _defaulted(fn):
                if not any(_passes(c, name, index) for c in calls.get(fn.name, [])):
                    unset.append(f"{path.relative_to(ROOT)}:{fn.lineno} "
                                 f"{fn.name}({name})")
    assert not unset, ("defaulted parameters no call sets "
                       "(make each a constant):\n" + "\n".join(unset))
