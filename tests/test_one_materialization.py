"""One materialization point: no code in ``maskmypy_spark/`` checkpoints a
frame or constructs an ``Observation`` except
``operators/escalate.py:materialize``. A new site calls the helper, so
checkpoint semantics change in one place and tests can stub them there."""

import ast
import os

from test_no_orphans import ROOT, _parse, _py_files

HELPER = (os.path.join("maskmypy_spark", "operators", "escalate.py"), "materialize")
CHECKPOINTS = {"localCheckpoint", "checkpoint"}


def _called_name(node):
    f = node.func
    return f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None


def materializations(root=ROOT) -> list[str]:
    """``file:line`` of every checkpoint reference or ``Observation(...)``
    call in the package outside the helper."""
    out = []
    for path in _py_files(os.path.join(root, "maskmypy_spark")):
        rel = os.path.relpath(path, root)
        tree = _parse(path)
        inside = set()
        if rel == HELPER[0]:
            for node in tree.body:
                if isinstance(node, ast.FunctionDef) and node.name == HELPER[1]:
                    inside = {id(n) for n in ast.walk(node)}
        for node in ast.walk(tree):
            if id(node) in inside:
                continue
            if (
                (isinstance(node, ast.Attribute) and node.attr in CHECKPOINTS)
                or (isinstance(node, ast.Constant) and node.value in CHECKPOINTS)
                or (isinstance(node, ast.Call) and _called_name(node) == "Observation")
            ):
                out.append(f"{rel}:{node.lineno}")
    return out


def test_every_materialization_goes_through_the_helper():
    assert materializations() == []


def test_gate_catches_a_planted_materialization(tmp_path):
    pkg = tmp_path / "maskmypy_spark"
    pkg.mkdir()
    (pkg / "planted.py").write_text(
        "from pyspark.sql import Observation\n"
        "def f(df):\n"
        "    obs = Observation()\n"
        "    return df.localCheckpoint(eager=True), obs\n"
    )
    assert sorted(materializations(str(tmp_path))) == [
        os.path.join("maskmypy_spark", "planted.py") + ":3",
        os.path.join("maskmypy_spark", "planted.py") + ":4",
    ]
