"""Option audit: every defaulted parameter of an operator or streaming
function must be set by at least one caller somewhere in the repo. A
parameter no caller passes has exactly one value in use, so it belongs
in the body as a constant, not in the signature.

Call sites are matched by function name (``f(...)`` and ``x.f(...)``);
a parameter counts as passed by keyword, by position, or through a
``*``/``**`` argument. An argument spelled exactly like the default sets
nothing, wherever the call is, so it does not count.

A parameter of a function the package calls also has one value in use
when every call in the repo passes it one and the same literal other
than its default: that literal belongs in the body. A name (a forwarded
argument, or a module constant) is not a literal.

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


_SPLAT = object()


def _argument(call, name, index):
    """What ``call`` passes for a parameter: the argument, ``_SPLAT`` when
    a ``*``/``**`` argument may cover it, or None."""
    for k in call.keywords:
        if k.arg is None:
            return _SPLAT
        if k.arg == name:
            return k.value
    if index is None:
        return None
    for i, arg in enumerate(call.args):
        if isinstance(arg, ast.Starred):
            return _SPLAT  # a *args splat may cover every later position
        if i == index:
            return arg
    return None


def _literal(arg) -> str | None:
    """The source of a literal argument, else None."""
    if arg is None or arg is _SPLAT:
        return None
    try:
        ast.literal_eval(arg)
    except (ValueError, TypeError):
        return None
    return ast.unparse(arg)


def test_every_defaulted_parameter_is_passed_somewhere():
    calls: dict[str, list[tuple[str, ast.Call]]] = {}
    defs = []
    for path in _py_files():
        tree = ast.parse(open(path).read(), path)
        rel = os.path.relpath(path, REPO)
        audited = rel.startswith(AUDITED) and not rel.startswith(CONNECTORS)
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and _callee(node):
                calls.setdefault(_callee(node), []).append((rel, node))
            elif audited and isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef)
            ):
                defs.append((rel, node))
    unused = []
    for rel, fn in defs:
        fn_calls = calls.get(fn.name, [])
        in_package = any(r.startswith(PACKAGE) for r, _ in fn_calls)
        for name, index, default in _defaulted(fn):
            args = [_argument(c, name, index) for _, c in fn_calls]
            literals = {_literal(a) for a in args}
            if not any(
                a is _SPLAT or (a is not None and ast.unparse(a) != default)
                for a in args
            ):
                unused.append(f"{rel}:{fn.lineno} {fn.name}({name})")
            elif in_package and len(literals) == 1 and None not in literals:
                unused.append(
                    f"{rel}:{fn.lineno} {fn.name}({name}), always {literals.pop()}"
                )
    assert not unused, (
        f"{len(unused)} defaulted parameters with one value in use "
        "(make each a constant in the body):\n" + "\n".join(unused)
    )
