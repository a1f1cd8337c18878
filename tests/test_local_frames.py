"""Driver-side frames (dimension, seed and grid rows) are LocalRelations.

``spark.createDataFrame(<list>)`` plans a ``Scan ExistingRDD`` over a
Python RDD, and every broadcast of such a frame starts a Python-worker
job. ``session.local_frame`` ships the rows to the JVM as one Arrow table
instead; these tests pin its plan and values and keep every other
``createDataFrame`` call out of the package.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

from logpipe_spark.schemas import LOOKUP_SCHEMA
from logpipe_spark.session import local_frame
from logpipe_spark.transcripts import LOOKUP_ROWS, lookup_df

PACKAGE = Path(__file__).resolve().parents[1] / "logpipe_spark"


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


@pytest.mark.parametrize("rows,schema", [
    ([(1,), (2,), (3,)], "seed int"),
    ([(0, "open"), (1, "buy")], "step_idx int, step string"),
    ([(1, None), (None, 7)], "label int, n bigint"),
    ([], "dx int, dy int"),
])
def test_local_frame_is_local_relation(spark, rows, schema):
    df = local_frame(spark, rows, schema)
    assert _analyzed(df).startswith("LocalRelation"), _analyzed(df)
    assert [tuple(r) for r in df.collect()] == rows


def test_lookup_dimension_is_local_relation(spark):
    df = lookup_df(spark)
    assert _analyzed(df).startswith("LocalRelation"), _analyzed(df)
    assert df.schema == LOOKUP_SCHEMA
    assert sorted(map(tuple, df.collect())) == sorted(LOOKUP_ROWS)


def test_local_frame_rejects_bad_rows(spark):
    with pytest.raises(ValueError, match="Tuple size"):
        local_frame(spark, [(1, 2)], "seed int")
    # a value that does not fit its column raises instead of wrapping
    with pytest.raises(ValueError, match="too large"):
        local_frame(spark, [(1 << 40,)], "seed int")


def _create_dataframe_calls(path: Path) -> list[tuple[int, str]]:
    """(line, enclosing function) of every ``*.createDataFrame(...)``."""
    tree = ast.parse(path.read_text(), str(path))
    found = []

    def visit(node, func):
        for child in ast.iter_child_nodes(node):
            name = (child.name if isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef)) else func)
            if (isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr == "createDataFrame"):
                found.append((child.lineno, name))
            visit(child, name)

    visit(tree, None)
    return found


def test_no_create_dataframe_outside_local_frame():
    """Every driver-side frame in the package goes through local_frame."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        for line, func in _create_dataframe_calls(path):
            if (rel, func) != ("session.py", "local_frame"):
                offenders.append(f"logpipe_spark/{rel}:{line} (in {func})")
    assert not offenders, (
        "createDataFrame outside session.local_frame (a Python-RDD frame): "
        + ", ".join(offenders))
