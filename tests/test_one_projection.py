"""One projection per stage list: no code in ``maskmypy_spark/`` calls
``withColumn``/``withColumns`` inside a loop. A stage list goes through
``functions/masksql.py:_project`` as one ``selectExpr``; a ``withColumn``
per loop step re-analyses the growing plan each time.

``ALLOWED`` names the functions whose looped ``withColumn`` adds no stage
to a growing chain: ``rollup.cell_pyramid`` tags each level's own
aggregate with its level number (one column on a fresh frame per level)
before the union."""

import ast
import os

from test_no_orphans import ROOT, _parse, _py_files

LOOPS = (ast.For, ast.AsyncFor, ast.While, ast.ListComp, ast.SetComp, ast.DictComp, ast.GeneratorExp)
CHAINS = {"withColumn", "withColumns"}
ALLOWED = {os.path.join("maskmypy_spark", "operators", "rollup.py") + ":cell_pyramid"}


def looped_columns(root=ROOT) -> dict[str, list[int]]:
    """``{"file:function": [line, ...]}`` of every ``withColumn``/
    ``withColumns`` reference inside a loop or comprehension in the
    package, keyed by its innermost enclosing function (``<module>`` at
    the top level)."""
    out: dict[str, set[int]] = {}
    for path in _py_files(os.path.join(root, "maskmypy_spark")):
        rel = os.path.relpath(path, root)
        tree = _parse(path)
        funcs = [
            f for f in ast.walk(tree) if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for loop in ast.walk(tree):
            if not isinstance(loop, LOOPS):
                continue
            for n in ast.walk(loop):
                if isinstance(n, ast.Attribute) and n.attr in CHAINS:
                    owner = max(
                        (f for f in funcs if f.lineno <= n.lineno <= f.end_lineno),
                        key=lambda f: f.lineno,
                        default=None,
                    )
                    site = f"{rel}:{owner.name if owner else '<module>'}"
                    out.setdefault(site, set()).add(n.lineno)
    return {k: sorted(v) for k, v in sorted(out.items())}


def test_no_with_column_in_a_loop():
    found = looped_columns()
    assert {k: v for k, v in found.items() if k not in ALLOWED} == {}
    # An allowed site that no longer loops must leave the list.
    assert ALLOWED <= set(found)


def test_gate_catches_a_planted_loop(tmp_path):
    pkg = tmp_path / "maskmypy_spark"
    pkg.mkdir()
    (pkg / "planted.py").write_text(
        "from pyspark.sql import functions as F\n"
        "def f(df, stages):\n"
        "    for name, sql in stages:\n"
        "        df = df.withColumn(name, F.expr(sql))\n"
        "    return [df.withColumns({n: F.expr(s)}) for n, s in stages]\n"
    )
    assert looped_columns(str(tmp_path)) == {
        os.path.join("maskmypy_spark", "planted.py") + ":f": [4, 5],
    }
