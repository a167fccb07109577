"""Every defaulted parameter in the library is set by some call.

A default that no call overrides is an option with one value in use: a
literal (or a module constant where two functions must agree) says the
same with one less thing to keep in step. This scan is Spark-free: it
parses the library and every caller with :mod:`ast`.

Callers are the package itself, ``tests/``, ``tools/``, ``perfbench/``,
``bench.py`` and ``__spark_entry__.py``. A call ``f(...)`` or
``obj.f(...)``, also through an import alias, sets the parameters of
every library function named ``f`` that it names by keyword or fills
by position; ``df.transform(f, ...)`` calls ``f`` with the frame
first. A ``*args`` or ``**kwargs`` argument sets them all.

CLI (prints the unset defaults of a checkout):
    python tests/test_unset_defaults.py [repo_root]
"""

from __future__ import annotations

import ast
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "dissertation_iceberg_spark"
CALLER_DIRS = (PACKAGE, "tests", "tools", "perfbench")
CALLER_FILES = ("bench.py", "__spark_entry__.py")


def _sources(root: str, dirs, files):
    for d in dirs:
        for base, _, names in os.walk(os.path.join(root, d)):
            for n in sorted(names):
                if n.endswith(".py"):
                    yield os.path.join(base, n)
    for f in files:
        p = os.path.join(root, f)
        if os.path.exists(p):
            yield p


def _parse(path: str) -> ast.AST:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), path)


def _defaulted(fn: ast.FunctionDef) -> list[tuple[int | None, str]]:
    """(positional index or None for keyword-only, name) per defaulted
    parameter."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    return [(i, p.arg) for i, p in enumerate(pos) if i >= first] + [
        (None, p.arg) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
    ]


def _callee(node: ast.expr, aliases: dict[str, str]) -> str | None:
    if isinstance(node, ast.Name):
        return aliases.get(node.id, node.id)
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _calls(tree: ast.AST):
    """(callee name, number of positional args or None for 'all',
    keyword names or None for 'all') per call; ``from m import f as g``
    makes a call to ``g`` a call to ``f``."""
    aliases = {
        a.asname: a.name
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        for a in node.names
        if a.asname
    }
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        args, kws = list(node.args), node.keywords
        name = _callee(node.func, aliases)
        if name == "transform" and args and _callee(args[0], aliases):
            # df.transform(f, a, b=...) calls f(df, a, b=...)
            name, args = _callee(args[0], aliases), [None] + args[1:]
        if name is None:
            continue
        n_pos = None if any(isinstance(x, ast.Starred) for x in args) else len(args)
        names = None if any(k.arg is None for k in kws) else {k.arg for k in kws}
        yield name, n_pos, names


def unset_defaults(root: str = ROOT) -> list[str]:
    """``module:function(param)`` for every defaulted library parameter
    that no call sets."""
    funcs = []  # (label, name, defaulted params)
    for path in _sources(root, (PACKAGE,), ()):
        rel = os.path.relpath(path, root)
        for node in ast.walk(_parse(path)):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                d = _defaulted(node)
                if d:
                    funcs.append((f"{rel}:{node.name}", node.name, d))
    wanted = {name for _, name, _ in funcs}
    set_by: dict[str, list[tuple[int | None, set[str] | None]]] = {}
    for path in _sources(root, CALLER_DIRS, CALLER_FILES):
        for name, n_pos, names in _calls(_parse(path)):
            if name in wanted:
                set_by.setdefault(name, []).append((n_pos, names))
    out = []
    for label, name, params in funcs:
        calls = set_by.get(name, [])
        for i, p in params:
            if not any(
                n_pos is None
                or names is None
                or p in names
                or (i is not None and i < n_pos)
                for n_pos, names in calls
            ):
                out.append(f"{label}({p})")
    return out


def test_every_default_is_set_by_some_call():
    unset = unset_defaults()
    assert not unset, (
        f"{len(unset)} defaulted parameters are set by no call; make each "
        "a literal (or a shared module constant):\n  " + "\n  ".join(unset)
    )


if __name__ == "__main__":
    found = unset_defaults(sys.argv[1] if len(sys.argv) > 1 else ROOT)
    print("\n".join(found))
    n_fn = len({f.rsplit("(", 1)[0] for f in found})
    print(f"{len(found)} unset defaults in {n_fn} functions", file=sys.stderr)
