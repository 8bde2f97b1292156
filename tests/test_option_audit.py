"""Option audit: every defaulted parameter of an operator or streaming
function must be set by at least one caller somewhere in the repo. A
parameter no caller passes has exactly one value in use, so it belongs
in the body as a constant, not in the signature.

Call sites are matched by function name (``f(...)`` and ``x.f(...)``);
a parameter counts as passed by keyword, by position, or through a
``*``/``**`` argument. An argument spelled exactly like the default sets
nothing, wherever the call is, so it does not count.

``sources/`` is audited too, except the connector modules: their
defaults (driver class, fetch size, partition bounds, starting offsets)
are deployment settings, kept configurable on purpose."""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "pinterest_data_pipeline_spark"
AUDITED = tuple(
    f"{PACKAGE}/{d}" for d in ("operators", "streaming", "sources")
)
CONNECTORS = tuple(
    f"{PACKAGE}/sources/{m}.py" for m in ("jdbc", "kafka", "producers")
)
SKIP_DIRS = {".git", "__pycache__", "spark-warehouse", ".perfbench_work"}


def _py_files():
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if d not in SKIP_DIRS]
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(root, f)


def _callee(call: ast.Call) -> str | None:
    if isinstance(call.func, ast.Name):
        return call.func.id
    if isinstance(call.func, ast.Attribute):
        return call.func.attr
    return None


def _defaulted(fn: ast.FunctionDef | ast.AsyncFunctionDef):
    """(name, positional index or None, default source) of every
    defaulted parameter; the index skips a leading ``self``/``cls``."""
    a = fn.args
    pos = a.posonlyargs + a.args
    shift = 1 if pos and pos[0].arg in ("self", "cls") else 0
    first = len(pos) - len(a.defaults)
    out = [
        (arg.arg, i - shift, ast.unparse(a.defaults[i - first]))
        for i, arg in enumerate(pos)
        if i >= first
    ]
    out += [
        (arg.arg, None, ast.unparse(d))
        for arg, d in zip(a.kwonlyargs, a.kw_defaults)
        if d is not None
    ]
    return out


def _passes(call, name, index, default) -> bool:
    def sets(arg: ast.expr) -> bool:
        return ast.unparse(arg) != default

    for k in call.keywords:
        if k.arg is None or (k.arg == name and sets(k.value)):
            return True
    if index is None:
        return False
    for i, arg in enumerate(call.args):
        if isinstance(arg, ast.Starred):
            return True  # a *args splat may cover every later position
        if i == index:
            return sets(arg)
    return False


def test_every_defaulted_parameter_is_passed_somewhere():
    calls: dict[str, list[ast.Call]] = {}
    defs = []
    for path in _py_files():
        tree = ast.parse(open(path).read(), path)
        rel = os.path.relpath(path, REPO)
        audited = rel.startswith(AUDITED) and not rel.startswith(CONNECTORS)
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and _callee(node):
                calls.setdefault(_callee(node), []).append(node)
            elif audited and isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef)
            ):
                defs.append((rel, node))
    unused = [
        f"{rel}:{fn.lineno} {fn.name}({name})"
        for rel, fn in defs
        for name, index, default in _defaulted(fn)
        if not any(
            _passes(c, name, index, default) for c in calls.get(fn.name, [])
        )
    ]
    assert not unused, (
        f"{len(unused)} defaulted parameters no caller passes "
        "(make each a constant in the body):\n" + "\n".join(unused)
    )
