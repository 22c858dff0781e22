"""No dead code in the package: every top-level function or class in
``maskmypy_spark/`` is named somewhere in the repository's Python files —
by a ``Name``, an ``Attribute``, an import alias, or a string constant
(perfbench wraps entry points by name, ``("module", "function")``). A def
that nothing names has no caller; delete it or give it one."""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SKIP_DIRS = {"__pycache__", "spark-warehouse"}


def _py_files(top):
    for d, dirs, files in os.walk(top):
        dirs[:] = sorted(x for x in dirs if x not in SKIP_DIRS and not x.startswith("."))
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.join(d, f)


def _parse(path):
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), path)


def _names_used(tree) -> set[str]:
    used = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            used.add(node.id)
        elif isinstance(node, ast.Attribute):
            used.add(node.attr)
        elif isinstance(node, ast.alias):
            used.add(node.name.rsplit(".", 1)[-1])
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            used.add(node.value)
    return used


def orphans(root=ROOT) -> list[str]:
    """``module:def`` of every top-level def in the package that no Python
    file under ``root`` names."""
    used = set()
    for path in _py_files(root):
        used |= _names_used(_parse(path))
    out = []
    for path in _py_files(os.path.join(root, "maskmypy_spark")):
        for node in _parse(path).body:
            defs = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            if isinstance(node, defs) and node.name not in used:
                out.append(f"{os.path.relpath(path, root)}:{node.name}")
    return out


def test_every_package_def_is_named_somewhere():
    assert orphans() == []
