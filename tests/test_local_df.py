"""``kg.session.local_df`` against the ``createDataFrame`` call it replaces,
and the rule that driver-side rows become DataFrames only through it."""

from __future__ import annotations

import ast
import datetime
from pathlib import Path

import pytest
from pyspark.sql import Row

from kg.checkpoint import LINEAGE_SCHEMA, METRICS_SCHEMA
from kg.session import local_df

ROOT = Path(__file__).resolve().parent.parent
BIG = 2**53 + 1  # the first long a double cannot hold
TS = datetime.datetime(2024, 5, 6, 7, 8, 9, tzinfo=datetime.timezone.utc)

CASES = {
    LINEAGE_SCHEMA: ("stage", 3, "cfg", "run", BIG, TS),
    METRICS_SCHEMA: ("stage", "run", 2, BIG, 1.5, 2.5, TS),
    "node long, component long": (BIG, BIG - 1),
    "node long, scc long, resolved boolean": (BIG, 1, True),
    "probe_list int, centroid array<double>": (1, [0.5, None, 2.0]),
}


@pytest.mark.parametrize("ddl", sorted(CASES))
@pytest.mark.parametrize("shape", ["rows", "Rows", "empty"])
def test_local_df_matches_create_dataframe(spark, ddl, shape):
    row = CASES[ddl]
    rows = {
        "rows": [row, (None,) * len(row)],
        "Rows": [Row(*row), Row(*(None,) * len(row))],
        "empty": [],
    }[shape]
    got = local_df(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    plan = got._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"


def _create_dataframe_calls(path: Path, allowed_fn: str | None):
    """Line numbers of ``.createDataFrame(`` calls outside ``allowed_fn``."""
    tree = ast.parse(path.read_text())
    allowed = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and node.name == allowed_fn:
            allowed |= {id(n) for n in ast.walk(node)}
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
        and id(node) not in allowed
    ]


def test_driver_rows_go_through_local_df():
    # run_pipeline.alias_dim passes a pandas frame, which already crosses
    # to the JVM as Arrow; every other local table is a local_df
    sources = [(p, None) for p in sorted((ROOT / "kg").rglob("*.py"))
               if p != ROOT / "kg" / "session.py"]
    sources.append((ROOT / "run_pipeline.py", "alias_dim"))
    found = {
        f"{p.relative_to(ROOT)}:{line}"
        for p, fn in sources
        for line in _create_dataframe_calls(p, fn)
    }
    assert not found, sorted(found)
