"""Parameter surface: a defaulted parameter of a package module-level
function exists because some caller passes it a second value. One that
every call site leaves at its default (or sets to the default) is a
configuration no test or workload runs; it is the constant it already
is. The scan reads every call site in the repository — the package,
`tests/`, `tools/`, `perfbench/`, `bench.py` and `__spark_entry__.py` —
and needs no SparkSession.

A call is matched to a function by name, so a same-named method counts
as a caller. `*args` is expanded when the name is bound once, in the
calling function, to a tuple/list literal; any other unpacking, `**kw`
included, counts as setting every parameter it could reach."""

from __future__ import annotations

import ast
import operator
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "automated_agro_climatic_data_warehouse_spark"

# `module:function(param)` → why it stays settable. The only accepted
# reason is a deployment setting (a path, an address, a credential).
ALLOWED: dict[str, str] = {}

_OPS = {
    ast.Add: operator.add, ast.Sub: operator.sub, ast.Mult: operator.mul,
    ast.FloorDiv: operator.floordiv, ast.Pow: operator.pow,
    ast.LShift: operator.lshift, ast.USub: operator.neg,
}
_UNKNOWN = object()


def _sources() -> list[pathlib.Path]:
    paths = [*PKG.rglob("*.py"), *(ROOT / "tests").glob("*.py")]
    paths += [*(ROOT / "tools").glob("*.py"), *(ROOT / "perfbench").glob("*.py")]
    return paths + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]


def _value(node: ast.expr, consts: dict):
    """The value of a literal expression over module-level constants, or
    _UNKNOWN."""
    if isinstance(node, ast.Name):
        return consts.get(node.id, _UNKNOWN)
    if isinstance(node, ast.BinOp) and type(node.op) in _OPS:
        a, b = _value(node.left, consts), _value(node.right, consts)
        return _UNKNOWN if _UNKNOWN in (a, b) else _OPS[type(node.op)](a, b)
    if isinstance(node, ast.UnaryOp) and type(node.op) in _OPS:
        a = _value(node.operand, consts)
        return _UNKNOWN if a is _UNKNOWN else _OPS[type(node.op)](a)
    try:
        return ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError):
        return _UNKNOWN


def _constants() -> dict:
    """Module-level `NAME = <literal>` bindings of the package; a name
    bound to different values in different modules is left out."""
    seen: dict[str, list] = {}
    for path in PKG.rglob("*.py"):
        for node in ast.parse(path.read_text()).body:
            if not (isinstance(node, ast.Assign) and len(node.targets) == 1):
                continue
            target, value = node.targets[0], node.value
            pairs = [(target, value)]
            if isinstance(target, ast.Tuple) and isinstance(value, ast.Tuple):
                pairs = list(zip(target.elts, value.elts))
            for t, v in pairs:
                if isinstance(t, ast.Name) and (x := _value(v, {})) is not _UNKNOWN:
                    seen.setdefault(t.id, []).append(x)
    return {k: v[0] for k, v in seen.items() if all(x == v[0] for x in v)}


def _same(value: ast.expr, default: ast.expr, consts: dict) -> bool:
    a, b = _value(value, consts), _value(default, consts)
    if _UNKNOWN in (a, b):
        return ast.dump(value) == ast.dump(default)
    return type(a) is type(b) and a == b


def _defaulted(fn: ast.FunctionDef) -> dict[str, ast.expr]:
    args = fn.args
    positional = args.posonlyargs + args.args
    named = [a.arg for a in positional[len(positional) - len(args.defaults):]]
    out = dict(zip(named, args.defaults))
    out.update(
        {a.arg: d for a, d in zip(args.kwonlyargs, args.kw_defaults) if d is not None}
    )
    return out


def _scopes(tree: ast.Module):
    """(calls, single-assignment bindings) of the module body and of each
    function body, nested functions being scopes of their own."""
    stack: list[ast.AST] = [tree]
    while stack:
        scope = stack.pop()
        calls, binds = [], {}
        todo = list(ast.iter_child_nodes(scope))
        while todo:
            node = todo.pop()
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                stack.append(node)
                continue
            if isinstance(node, ast.Call):
                calls.append(node)
            if isinstance(node, ast.Assign) and len(node.targets) == 1:
                if isinstance(node.targets[0], ast.Name):
                    binds.setdefault(node.targets[0].id, []).append(node.value)
            todo.extend(ast.iter_child_nodes(node))
        yield calls, {k: v[0] for k, v in binds.items() if len(v) == 1}


def _unpacked(node: ast.expr, binds: dict) -> list[ast.expr] | None:
    """The elements of the tuple/list literal a `*name` operand is bound
    to, if it is one."""
    bound = binds.get(node.id) if isinstance(node, ast.Name) else None
    if isinstance(bound, (ast.Tuple, ast.List)):
        if not any(isinstance(e, ast.Starred) for e in bound.elts):
            return bound.elts
    return None


def _passed(
    call: ast.Call, fn: ast.FunctionDef, binds: dict
) -> list[tuple[str, ast.expr | None]]:
    """(parameter, value) pairs the call passes; None marks an operand the
    scan cannot see through."""
    params = [a.arg for a in fn.args.posonlyargs + fn.args.args]
    args: list[ast.expr] = []
    for arg in call.args:
        if isinstance(arg, ast.Starred):
            elts = _unpacked(arg.value, binds)
            if elts is None:
                return [(p, None) for p in _defaulted(fn)]
            args += elts
        else:
            args.append(arg)
    out = list(zip(params, args))
    for kw in call.keywords:
        if kw.arg is None:
            return [(p, None) for p in _defaulted(fn)]
        out.append((kw.arg, kw.value))
    return out


def never_set() -> list[str]:
    """`module:function(param)` for every defaulted parameter of a package
    module-level function that no call site passes a value other than its
    default."""
    consts = _constants()
    defs: dict[str, list[tuple[str, ast.FunctionDef]]] = {}
    for path in PKG.rglob("*.py"):
        for fn in ast.parse(path.read_text()).body:
            if isinstance(fn, ast.FunctionDef) and _defaulted(fn):
                defs.setdefault(fn.name, []).append((str(path.relative_to(PKG)), fn))
    is_set: set[str] = set()
    for path in _sources():
        for calls, binds in _scopes(ast.parse(path.read_text())):
            for call in calls:
                func = call.func
                name = func.id if isinstance(func, ast.Name) else getattr(func, "attr", None)
                for mod, fn in defs.get(name, ()):
                    defaults = _defaulted(fn)
                    for param, value in _passed(call, fn, binds):
                        if param in defaults and (
                            value is None or not _same(value, defaults[param], consts)
                        ):
                            is_set.add(f"{mod}:{fn.name}({param})")
    return sorted(
        key
        for entries in defs.values()
        for mod, fn in entries
        for p in _defaulted(fn)
        if (key := f"{mod}:{fn.name}({p})") not in is_set and key not in ALLOWED
    )


def test_every_defaulted_parameter_has_a_second_value():
    assert never_set() == []
