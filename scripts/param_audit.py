"""Public-parameter audit of engine modules, from source text only (AST;
no Spark, no import of the audited code).

For each module it prints the number of parameters of its public
top-level functions (names without a leading underscore), then every
defaulted public parameter that no program caller sets: no call of
that function, by name or as ``module.name``, passes it by keyword or
by position.  A call that splats ``**kwargs`` may set any keyword, so
it counts as setting all of them; a function no program code calls is
listed once as uncalled instead.

Program callers are the ``.py`` files under the engine package by
default (tests and scripts are not program callers); ``--callers``
replaces that set with the given files or directories.

Usage:
  python scripts/param_audit.py <module> [<module> ...] [--callers PATH ...]

A module is a dotted name (``prod_recommendation_pyspark_spark.operators.graph``)
or a path to a ``.py`` file.
"""

from __future__ import annotations

import ast
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "prod_recommendation_pyspark_spark")


def _module_path(module: str) -> str:
    if module.endswith(".py") or os.sep in module:
        return module
    return os.path.join(ROOT, *module.split(".")) + ".py"


def public_functions(path: str) -> dict[str, ast.FunctionDef]:
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    return {
        n.name: n
        for n in tree.body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        and not n.name.startswith("_")
    }


def _params(fn: ast.FunctionDef) -> list[ast.arg]:
    a = fn.args
    out = a.posonlyargs + a.args + a.kwonlyargs
    return out + [x for x in (a.vararg, a.kwarg) if x is not None]


def _defaulted(fn: ast.FunctionDef) -> list[tuple[int | None, str]]:
    """(positional index or None for keyword-only, name) of every
    parameter with a default."""
    a = fn.args
    positional = a.posonlyargs + a.args
    first = len(positional) - len(a.defaults)
    out = [(i, positional[i].arg) for i in range(first, len(positional))]
    return out + [
        (None, p.arg) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
    ]


def _py_files(paths: list[str]) -> list[str]:
    out = []
    for p in paths:
        if os.path.isdir(p):
            for d, _, files in os.walk(p):
                out += [os.path.join(d, f) for f in files if f.endswith(".py")]
        else:
            out.append(p)
    return sorted(out)


def call_sites(files: list[str], names: set[str]) -> dict[str, list[ast.Call]]:
    """Calls of each name in ``names`` (``name(...)`` or ``x.name(...)``)."""
    out: dict[str, list[ast.Call]] = {n: [] for n in names}
    for path in files:
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            name = fn.id if isinstance(fn, ast.Name) else (
                fn.attr if isinstance(fn, ast.Attribute) else None
            )
            if name in out:
                out[name].append(node)
    return out


def _sets(call: ast.Call, index: int | None, name: str) -> bool:
    if any(k.arg is None for k in call.keywords):  # **kwargs splat
        return True
    if any(k.arg == name for k in call.keywords):
        return True
    if index is None:
        return False
    if any(isinstance(a, ast.Starred) for a in call.args):
        return True
    return index < len(call.args)


def audit(module: str, callers: list[str]) -> list[str]:
    fns = public_functions(_module_path(module))
    sites = call_sites(_py_files(callers), set(fns))
    n_params = sum(len(_params(f)) for f in fns.values())
    lines = [f"{module}: {n_params} public parameters in {len(fns)} public functions"]
    for name, fn in fns.items():
        calls = sites[name]
        if not calls:
            lines.append(f"  {name}: uncalled")
            continue
        for index, pname in _defaulted(fn):
            if not any(_sets(c, index, pname) for c in calls):
                lines.append(f"  {name}({pname}=): set by no caller")
    return lines


def main(argv: list[str]) -> int:
    if "--callers" in argv:
        i = argv.index("--callers")
        modules, callers = argv[:i], argv[i + 1:]
    else:
        modules, callers = argv, [PACKAGE]
    if not modules or not callers:
        print(__doc__, file=sys.stderr)
        return 2
    for m in modules:
        print("\n".join(audit(m, callers)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
