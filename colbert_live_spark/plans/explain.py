"""Physical-plan quality assertions — the engine's guard rails for its own
scale claims (SURVEY.md §7 hard part 5 and the north rule's no-per-row-Python
mandate). Used in tests and available for ad-hoc plan audits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def assert_no_python_row_udf(df: DataFrame) -> None:
    """Row-at-a-time Python (BatchEvalPython) is forbidden everywhere;
    Arrow-vectorized nodes (ArrowEvalPython, FlatMapGroupsInPandas,
    MapInPandas) are the only Python allowed."""
    plan = physical_plan(df)
    assert "BatchEvalPython" not in plan, plan


def assert_pushed_filters(df: DataFrame, fragment: str) -> None:
    """Assert a filter reached the parquet scan (PushedFilters: [...])."""
    plan = physical_plan(df)
    assert "PushedFilters" in plan, plan
    assert fragment in plan, f"{fragment!r} not pushed:\n{plan}"


def assert_broadcast_join(df: DataFrame) -> None:
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
