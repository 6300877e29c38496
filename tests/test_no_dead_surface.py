"""Guard against library surface that nothing reaches.

Every top-level function, class and assignment under ``s2spark/``, and every
method of a top-level class, must be named somewhere other than its own
definition: in another module, a test, a tool, a job, the benchmark or
``__spark_entry__.py``.  A name is matched as a whole word across every
``.py`` file of the repository (``.git`` excluded).  Dunder names are
reached by the interpreter and are not checked.  There is no allowlist:
code that nothing calls is deleted, not excused.

Spark-free; runs in a few seconds.
"""

from __future__ import annotations

import ast
import re
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "s2spark"


def _span(node: ast.AST) -> tuple[int, int]:
    first = min([node.lineno] + [d.lineno for d in
                                 getattr(node, "decorator_list", [])])
    return first, node.end_lineno


def _assigned_names(node: ast.AST) -> list[str]:
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign):
        targets = [node.target]
    else:
        return []
    names = []
    for t in targets:
        for sub in ast.walk(t):
            if isinstance(sub, ast.Name):
                names.append(sub.id)
    return names


def _definitions(path: Path):
    """(name, first_line, last_line) of each checked symbol in one module."""
    tree = ast.parse(path.read_text(), filename=str(path))
    defs = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            defs.append((node.name, *_span(node)))
        for name in _assigned_names(node):
            defs.append((name, *_span(node)))
        if isinstance(node, ast.ClassDef):
            for item in node.body:
                if isinstance(item, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    defs.append((item.name, *_span(item)))
    return [d for d in defs
            if not (d[0].startswith("__") and d[0].endswith("__"))]


def unreferenced_names() -> list[str]:
    sources = {p: p.read_text().splitlines()
               for p in ROOT.rglob("*.py") if ".git" not in p.parts}
    words: dict[str, list[tuple[Path, int]]] = defaultdict(list)
    for path, lines in sources.items():
        for lineno, line in enumerate(lines, 1):
            for w in set(re.findall(r"\w+", line)):
                words[w].append((path, lineno))
    dead = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for name, first, last in _definitions(path):
            if not any(p != path or not first <= ln <= last
                       for p, ln in words[name]):
                dead.append(f"{path.relative_to(ROOT)}:{first} {name}")
    return dead


def test_every_library_symbol_is_referenced():
    dead = unreferenced_names()
    assert not dead, ("referenced only at their own definition:\n  "
                      + "\n  ".join(dead))
