"""Engine-state guard: the engine keeps no state between queries.

A module-level name bound to an empty container (``{}``, ``[]``,
``set()``, a zero-argument ``dict()``/``list()``, or a
``defaultdict(...)``) is the shape of a session memo: something fills
it at query time, so a query's cost and the lifetime of its frames
depend on what ran before it in the process. Reuse across queries, if
ever wanted, must be explicit state with a validity rule, not a module
dict.
A filled literal such as ``list(range(12))`` is a constant and passes.
"""

from __future__ import annotations

import ast
import os

_PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "etl_geonet_quakes_spark",
)


def _is_empty_container(node: ast.expr) -> bool:
    if isinstance(node, ast.Dict):
        return not node.keys
    if isinstance(node, (ast.List, ast.Set)):
        return not node.elts
    if isinstance(node, ast.Call):
        f = node.func
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        if name == "defaultdict":
            return True
        return name in ("dict", "list", "set") and not node.args and not node.keywords
    return False


def _module_level(body):
    """Module-level statements, through if/try/with blocks but not
    into function or class bodies."""
    for stmt in body:
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            continue
        yield stmt
        for field in ("body", "orelse", "finalbody"):
            yield from _module_level(getattr(stmt, field, []))
        for handler in getattr(stmt, "handlers", []):
            yield from _module_level(handler.body)


def _bindings(stmt):
    """(target, value) pairs a statement binds, tuples unpacked."""
    if isinstance(stmt, ast.Assign):
        pairs = [(t, stmt.value) for t in stmt.targets]
    elif isinstance(stmt, ast.AnnAssign) and stmt.value is not None:
        pairs = [(stmt.target, stmt.value)]
    else:
        return
    for target, value in pairs:
        if isinstance(target, ast.Tuple) and isinstance(value, ast.Tuple):
            yield from zip(target.elts, value.elts)
        else:
            yield target, value


def empty_container_bindings(root: str = _PACKAGE) -> list[str]:
    found = []
    for dirpath, _, files in os.walk(root):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            rel = os.path.relpath(path, root)
            for stmt in _module_level(tree.body):
                for target, value in _bindings(stmt):
                    if _is_empty_container(value):
                        found.append(f"{rel}:{stmt.lineno} {ast.unparse(target)}")
    return sorted(found)


def test_no_module_level_empty_containers():
    assert empty_container_bindings() == []


def test_guard_flags_memos_not_constants():
    src = (
        "import collections\n"
        "A: dict = {}\n"
        "B = []\n"
        "C, D = set(), dict()\n"
        "E = collections.defaultdict(list)\n"
        "if True:\n"
        "    F = list()\n"
        "KEEP = list(range(12))\n"
        "KEEP2 = {'a': 1}\n"
        "KEEP3 = dict(a=1)\n"
        "def f():\n"
        "    local = {}\n"
    )
    tree = ast.parse(src)
    flagged = [
        ast.unparse(t)
        for stmt in _module_level(tree.body)
        for t, v in _bindings(stmt)
        if _is_empty_container(v)
    ]
    assert flagged == ["A", "B", "C", "D", "E", "F"]
