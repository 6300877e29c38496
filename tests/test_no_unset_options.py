"""Guard against options that no caller sets.

An option is a parameter with a default value.  In scope are the functions
of ``s2spark/operators``, ``functions``, ``sources``, ``streaming``,
``oracle`` and ``plans/audit.py`` (top-level functions and the methods of
top-level classes) that the program reaches.  Each of their options must be
set to a value other than its default by a caller outside ``tests/`` (a
declared query, a job, a tool, the benchmark or another ``s2spark``
function the program reaches), or be passed at all by ``perfbench/``, which
is frozen.  An option nothing sets is one configuration that no oracle,
plan dump or benchmark runs: write its value in place as a module constant.

Reaching: a name is reached when a file outside ``tests/`` and outside
``s2spark/`` mentions it, when module-level code of ``s2spark`` mentions it,
or when the body of a reached ``s2spark`` function mentions it.  Public
functions that only tests reach are a separate keep/delete decision and are
listed by ``only_tested_functions``.

Calls are matched by the callee's name (``f(...)`` or ``x.f(...)``).  A
passed value counts as the default when it is a literal equal to the
default, or a module constant of the calling module holding that literal.
A parameter of the calling function passed straight through counts as set
when that parameter is set by its own callers or has another default.
Spark-free; runs in a few seconds.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "s2spark"
SCOPE = [PACKAGE / d for d in ("operators", "functions", "sources",
                               "streaming", "oracle")] + \
    [PACKAGE / "plans" / "audit.py"]
FROZEN = ROOT / "perfbench"
TESTS = ROOT / "tests"

_UNKNOWN = object()


def _literal(node: ast.AST):
    try:
        return ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError, MemoryError,
            RecursionError):
        return _UNKNOWN


def _same(a, b) -> bool:
    return a is not _UNKNOWN and type(a) is type(b) and a == b


def _in_scope(path: Path) -> bool:
    return any(path == p or p in path.parents for p in SCOPE)


def _functions(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield node
        elif isinstance(node, ast.ClassDef):
            for item in node.body:
                if isinstance(item, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    yield item


def _constants(tree: ast.Module) -> dict[str, object]:
    """Module-level names bound to a literal."""
    out = {}
    for node in tree.body:
        if (isinstance(node, ast.Assign) and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)):
            v = _literal(node.value)
            if v is not _UNKNOWN:
                out[node.targets[0].id] = v
    return out


def _value(node: ast.AST, consts: dict[str, object]):
    """A literal, or a module constant holding one; else _UNKNOWN."""
    if isinstance(node, ast.Name) and node.id in consts:
        return consts[node.id]
    return _literal(node)


def _options(fn: ast.FunctionDef, consts: dict[str, object]
             ) -> tuple[list[str], dict[str, object]]:
    """(positional parameter names, {option: default value})."""
    a = fn.args
    positional = [p.arg for p in a.posonlyargs + a.args]
    opts = {}
    for p, d in zip(positional[len(positional) - len(a.defaults):],
                    a.defaults):
        opts[p] = _value(d, consts)
    for p, d in zip(a.kwonlyargs, a.kw_defaults):
        if d is not None:
            opts[p.arg] = _value(d, consts)
    return positional, opts


def _words(node: ast.AST) -> set[str]:
    out = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            out.add(sub.id)
        elif isinstance(sub, ast.Attribute):
            out.add(sub.attr)
        elif isinstance(sub, ast.alias):
            out.add(sub.name.rsplit(".", 1)[-1])
    return out


class _Calls(ast.NodeVisitor):
    """Every call in one file, with the function it sits in."""

    def __init__(self):
        self.stack: list[ast.FunctionDef] = []
        self.calls = []

    def visit_FunctionDef(self, node):
        self.stack.append(node)
        self.generic_visit(node)
        self.stack.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Call(self, node):
        self.calls.append((node, self.stack[-1] if self.stack else None))
        self.generic_visit(node)


def _callee(call: ast.Call) -> str | None:
    f = call.func
    if isinstance(f, ast.Name):
        return f.id
    if isinstance(f, ast.Attribute):
        return f.attr
    return None


def _sources() -> dict[Path, ast.Module]:
    return {p: ast.parse(p.read_text(), filename=str(p))
            for p in ROOT.rglob("*.py")
            if ".git" not in p.parts and TESTS not in p.parents}


def _reached(sources: dict[Path, ast.Module]) -> set[str]:
    """Names the program reaches without a test (see the module doc)."""
    bodies = defaultdict(list)           # s2spark function name -> bodies
    roots = set()
    for path, tree in sources.items():
        if PACKAGE not in path.parents:
            roots |= _words(tree)
            continue
        tops = {id(fn) for fn in _functions(tree)}
        for fn in _functions(tree):
            bodies[fn.name].append(fn)
        for node in tree.body:
            if isinstance(node, ast.ClassDef):     # all but the methods
                for sub in ([n for n in node.body if id(n) not in tops]
                            + node.bases + node.decorator_list):
                    roots |= _words(sub)
            elif id(node) not in tops:
                roots |= _words(node)
    reached, todo = set(), list(roots)
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for fn in bodies.get(name, []):
            todo += _words(fn) - reached
    return reached


def option_report() -> tuple[int, list[str]]:
    """(in-scope option count, sorted 'module:function(option)' unset)."""
    sources = _sources()
    reached = _reached(sources)

    defs = {}        # (file, name) -> (node, positional, options)
    for path, tree in sources.items():
        if _in_scope(path):
            consts = _constants(tree)
            for fn in _functions(tree):
                if fn.name in reached:
                    defs[(path, fn.name)] = (fn, *_options(fn, consts))
    by_name = defaultdict(list)
    for (path, name), d in defs.items():
        by_name[name].append((path, d))
    key_of = {id(d[0]): k for k, d in defs.items()}

    # every (callee option, value passed) at a call outside tests/
    passes = []
    for path, tree in sources.items():
        visitor = _Calls()
        visitor.visit(tree)
        consts = _constants(tree)
        for call, encl in visitor.calls:
            for cpath, (fn, positional, opts) in by_name.get(
                    _callee(call), []):
                if fn is encl:
                    continue
                bound = {}
                for i, arg in enumerate(call.args):
                    if isinstance(arg, ast.Starred):
                        bound.update({p: None for p in positional[i:]})
                        break
                    if i < len(positional):
                        bound[positional[i]] = arg
                for kw in call.keywords:
                    if kw.arg is None:
                        bound.update({p: None for p in opts})
                    else:
                        bound[kw.arg] = kw.value
                for opt, node in bound.items():
                    if opt in opts:
                        passes.append(((cpath, fn.name), opt, path, node,
                                       encl, consts))

    def status(node, encl, consts, default):
        """'default', 'set', or the (function key, option) passed through."""
        if node is None:
            return "set"
        if isinstance(node, ast.Name) and encl is not None:
            _, own = _options(encl, consts)
            if node.id in own:
                if not _same(own[node.id], default) or id(encl) not in key_of:
                    return "set"
                return key_of[id(encl)], node.id
            if node.id in {a.arg for a in ast.walk(encl.args)
                           if isinstance(a, ast.arg)}:
                return "set"
        return "default" if _same(_value(node, consts), default) else "set"

    live = {(key, opt) for key, opt, path, *_ in passes
            if FROZEN in path.parents}
    changed = True
    while changed:
        changed = False
        for key, opt, _, node, encl, consts in passes:
            if (key, opt) in live:
                continue
            s = status(node, encl, consts, defs[key][2][opt])
            if s == "set" or (s != "default" and s in live):
                live.add((key, opt))
                changed = True

    count, unset = 0, []
    for (path, name), (fn, _, opts) in defs.items():
        for opt in opts:
            count += 1
            if ((path, name), opt) not in live:
                unset.append(f"{path.relative_to(ROOT)}:{fn.lineno} "
                             f"{name}({opt})")
    return count, sorted(unset)


def only_tested_functions() -> list[str]:
    """Public in-scope functions that only tests reach."""
    sources = _sources()
    reached = _reached(sources)
    return sorted(f"{path.relative_to(ROOT)} {fn.name}"
                  for path, tree in sources.items() if _in_scope(path)
                  for fn in _functions(tree)
                  if not fn.name.startswith("_") and fn.name not in reached)


def test_every_option_is_set_by_a_caller():
    count, unset = option_report()
    print(f"{count} in-scope options, {len(unset)} set by no caller")
    assert not unset, (f"{len(unset)} of {count} options are set by no "
                       "caller outside tests/:\n  " + "\n  ".join(unset))


if __name__ == "__main__":
    n, bad = option_report()
    print("\n".join(bad))
    print(f"{n} in-scope options, {len(bad)} set by no caller")
    print("reached only from tests:\n  " + "\n  ".join(only_tested_functions()))
