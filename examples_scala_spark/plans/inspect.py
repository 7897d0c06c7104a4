"""Physical-plan hygiene checks.

The reference has no optimizer (SURVEY §4) — programs ARE the plan.
Here the optimizer is Catalyst, and these helpers let tests assert the
plans we rely on at 100 TB actually materialized: filters pushed into
the parquet scan, pruned read schemas, no accidental Python UDFs or
cartesian products in hot paths, broadcast joins where expected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


# every physical node that ships rows across the JVM<->Python boundary
# — matching only BatchEvalPython let vectorized Python (ArrowEval,
# MapInPandas, ...) slip past the "no accidental Python" assertion
# (r11 review find)
_PYTHON_NODES = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "FlatMapGroupsInPandas", "FlatMapGroupsInPandasWithState",
                 "PythonMapInArrow", "MapInArrow", "EvalPython",
                 "TransformWithStateInPandas", "BatchEvalPythonUDTF")


def assert_no_python_in_plan(df: DataFrame) -> None:
    """Hot relational paths must stay FULLY JVM-side: no row-wise UDF
    nodes AND no Arrow-vectorized Python stages (those are the
    sanctioned slow path for ops SQL can't express — never for plans
    this helper guards)."""
    plan = explain_str(df, "simple")
    hits = [n for n in _PYTHON_NODES if n in plan]
    assert not hits, f"Python stage(s) {hits} in plan:\n{plan}"


def assert_broadcast_join(df: DataFrame) -> None:
    plan = explain_str(df, "simple")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
        f"expected broadcast join; plan:\n{plan}"
    )
