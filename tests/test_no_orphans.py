"""No dead code in the package: every top-level function or class in
``maskmypy_spark/`` is named somewhere in the repository's Python files —
by a ``Name``, an ``Attribute``, an import alias, or a string constant
(perfbench wraps entry points by name, ``("module", "function")``). A def
that nothing names has no caller; delete it or give it one.

A caller under ``tests/`` alone does not count either: the defs that only
tests name are listed below, as public API (the documented operator
surface, whose callers are the library's users) or as oracle twins and
fixtures (the independent numpy paths and seeded inputs the tests check
the engine against). Any other def needs a caller outside ``tests/``.

No knob comes back unnoticed either: the settable parameters of the public
defs in ``maskmypy_spark/operators/`` and ``analysis.py`` are counted and
must equal ``PARAM_CEILING`` exactly. A change that removes a parameter
lowers the ceiling with it; one that adds a parameter has to raise it in
the diff."""

import ast
import os
import shutil

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SKIP_DIRS = {"__pycache__", "spark-warehouse"}
PARAM_CEILING = 458

PUBLIC_API = {
    "maskmypy_spark/analysis.py:nnd",
    "maskmypy_spark/analysis.py:mark_unmasked",
    "maskmypy_spark/functions/meta.py:with_crs",
    "maskmypy_spark/functions/viz.py:render_displacement_svg",
    "maskmypy_spark/functions/viz.py:render_scatter_svg",
    "maskmypy_spark/functions/viz.py:render_ripley_svg",
    "maskmypy_spark/operators/dedup.py:cosine_nn_lsh",
    "maskmypy_spark/plans/manifest.py:run_mask",
    "maskmypy_spark/streaming/mask_stream.py:mask_stream",
    "maskmypy_spark/streaming/mask_stream.py:k_verify_stream",
    "maskmypy_spark/streaming/mask_stream.py:hot_cell_monitor",
    "maskmypy_spark/streaming/mask_stream.py:dedup_stream",
}
ORACLE_TWINS = {
    "maskmypy_spark/functions/adpcm.py:snr_db",
    "maskmypy_spark/functions/cells.py:cell_np",
    "maskmypy_spark/functions/geometry.py:ring_area",
    "maskmypy_spark/functions/geometry.py:points_in_ring",
    "maskmypy_spark/functions/geometry.py:circle_ring_area",
    "maskmypy_spark/sources/fixtures.py:sensitive_points_pdf",
    "maskmypy_spark/sources/fixtures.py:addresses_pdf",
}


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


def orphans(root=ROOT, skip_tests=False) -> list[str]:
    """``module:def`` of every top-level def in the package that no Python
    file under ``root`` names (with ``skip_tests``, none outside
    ``tests/``)."""
    tests = os.path.join(root, "tests") + os.sep
    used = set()
    for path in _py_files(root):
        if not (skip_tests and path.startswith(tests)):
            used |= _names_used(_parse(path))
    out = []
    for path in _py_files(os.path.join(root, "maskmypy_spark")):
        rel = os.path.relpath(path, root).replace(os.sep, "/")
        for node in _parse(path).body:
            defs = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            if isinstance(node, defs) and node.name not in used:
                out.append(f"{rel}:{node.name}")
    return out


def test_every_package_def_is_named_somewhere():
    assert orphans() == []


def test_test_only_defs_are_listed():
    assert set(orphans(skip_tests=True)) == PUBLIC_API | ORACLE_TWINS


def test_gate_catches_a_planted_test_only_def(tmp_path):
    (tmp_path / "maskmypy_spark").mkdir()
    (tmp_path / "maskmypy_spark" / "planted.py").write_text("def planted():\n    pass\n")
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "test_planted.py").write_text("planted()\n")
    assert orphans(str(tmp_path)) == []
    assert orphans(str(tmp_path), skip_tests=True) == ["maskmypy_spark/planted.py:planted"]


def public_params(root=ROOT) -> int:
    """Settable parameters (every positional, keyword-only and ``*``/``**``
    parameter) of the top-level defs without a leading ``_`` in
    ``maskmypy_spark/operators/`` and ``maskmypy_spark/analysis.py``."""
    pkg = os.path.join(root, "maskmypy_spark")
    total = 0
    for path in [*_py_files(os.path.join(pkg, "operators")), os.path.join(pkg, "analysis.py")]:
        for node in _parse(path).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and node.name[0] != "_":
                a = node.args
                total += len(a.posonlyargs + a.args + a.kwonlyargs) + bool(a.vararg) + bool(a.kwarg)
    return total


def test_public_params_under_ceiling():
    assert public_params() == PARAM_CEILING


def test_param_gate_catches_a_planted_parameter(tmp_path):
    pkg = os.path.join(ROOT, "maskmypy_spark")
    shutil.copytree(
        os.path.join(pkg, "operators"), tmp_path / "maskmypy_spark" / "operators",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    with open(os.path.join(pkg, "analysis.py"), encoding="utf-8") as f:
        src = f.read()
    planted = src.replace("def nnd(df: DataFrame,", "def nnd(df: DataFrame, knob: int = 0,", 1)
    assert planted != src
    (tmp_path / "maskmypy_spark" / "analysis.py").write_text(planted, encoding="utf-8")
    assert public_params(str(tmp_path)) == public_params() + 1 > PARAM_CEILING
