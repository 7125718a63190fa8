"""Every defaulted parameter of the engine package is set by some caller.

A default that no call ever overrides is a constant spelled as an option:
it widens the configurations a reader must consider while tests and
benchmarks only ever see one value. The census is pure AST (no Spark):

- it covers every ``def`` in the package that has a default and whose
  name is unique in the package (a shared name cannot be told apart at a
  call site);
- a parameter is *set* when some call anywhere in the repo passes it, by
  position or by keyword, to a call whose callee name (``f(...)`` or
  ``x.f(...)``) is that def's name;
- call sites that spread ``*args``/``**kwargs`` are skipped, since they
  do not say which parameters they fill.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "data_warehousing_assignment_spark"


def _defs(tree):
    """``(def node, is_method)`` for every def in ``tree``."""
    out = []

    def walk(node, in_class):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                static = any(
                    isinstance(d, ast.Name) and d.id == "staticmethod"
                    for d in child.decorator_list
                )
                out.append((child, in_class and not static))
                walk(child, False)
            else:
                walk(child, isinstance(child, ast.ClassDef))

    walk(tree, False)
    return out


def _defaulted(fn):
    """Names of ``fn``'s defaulted parameters."""
    pos = fn.args.posonlyargs + fn.args.args
    names = [a.arg for a in pos[len(pos) - len(fn.args.defaults):]]
    names += [
        a.arg
        for a, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults)
        if d is not None
    ]
    return names


def never_set(package_files, caller_files):
    """``{"module:function": [parameter, ...]}`` of the defaulted
    parameters of ``package_files``' uniquely named defs that no call in
    ``caller_files`` passes."""
    files = {*package_files, *caller_files}
    trees = {p: ast.parse(Path(p).read_text()) for p in files}
    found = [(p, fn, m) for p in package_files for fn, m in _defs(trees[p])]
    names = Counter(fn.name for _, fn, _ in found)
    wanted = {
        fn.name: (p, fn, m)
        for p, fn, m in found
        if names[fn.name] == 1 and _defaulted(fn)
    }
    passed = {name: set() for name in wanted}
    for path in caller_files:
        for node in ast.walk(trees[path]):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name not in wanted:
                continue
            if any(isinstance(a, ast.Starred) for a in node.args) or any(
                k.arg is None for k in node.keywords
            ):
                continue
            _, fn, method = wanted[name]
            pos = [a.arg for a in fn.args.posonlyargs + fn.args.args]
            # A method called as ``obj.m(x)`` binds ``x`` to its 2nd slot.
            skip = 1 if method and isinstance(f, ast.Attribute) else 0
            passed[name].update(pos[skip:skip + len(node.args)])
            passed[name].update(k.arg for k in node.keywords)
    out = {}
    for name, (p, fn, _) in wanted.items():
        unset = [a for a in _defaulted(fn) if a not in passed[name]]
        if unset:
            out[f"{Path(p).stem}:{name}"] = unset
    return out


def _repo_sources():
    package = sorted((ROOT / PACKAGE).rglob("*.py"))
    callers = [
        p
        for p in sorted(ROOT.rglob("*.py"))
        if not any(part.startswith(".") for part in p.relative_to(ROOT).parts)
    ]
    return package, callers


def test_every_defaulted_package_parameter_is_set_by_some_caller():
    unset = never_set(*_repo_sources())
    assert not unset, (
        f"{sum(map(len, unset.values()))} defaulted parameters that no "
        f"caller sets — make each one a constant: {unset}"
    )


def test_census_reports_a_synthetic_never_set_parameter(tmp_path):
    lib = tmp_path / "lib.py"
    lib.write_text(
        "def f(a, b=1, *, c=2, d=3):\n    return a + b + c + d\n"
        "class K:\n    def m(self, x=0, y=0):\n        return x + y\n"
        "def dup(a=1):\n    return a\n"
    )
    other = tmp_path / "other.py"
    other.write_text(
        "def dup(a=2):\n    return a\n"
        "f(0, 5)\nf(0, c=1)\nf(*xs, d=9)\nK().m(4)\n"
    )
    files = [lib, other]
    # ``d`` is only passed next to ``*xs`` (skipped); ``dup`` is not unique.
    assert never_set(files, files) == {"lib:f": ["d"], "lib:m": ["y"]}
