"""Physical-plan introspection helpers — the engine's `.explain` discipline.

Used by tests to assert scale-relevant plan properties: predicate pushdown
reached the parquet scan, join strategy is broadcast where expected, shuffle
(Exchange) count is bounded. This is the Spark analogue of the reference's
optimization checks (label pushdown, TorcGraphProviderOptimizationStrategy)
— verified at the plan level, not just by output equality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def shuffle_count(df: DataFrame) -> int:
    """Number of Exchange operators in the physical plan (pre-AQE)."""
    return explain_str(df, "simple").count("Exchange")


def assert_pushed_filters(df: DataFrame, fragment: str) -> None:
    """Assert a filter fragment appears in PushedFilters of some scan."""
    plan = explain_str(df, "formatted")
    if "PushedFilters" not in plan:
        raise AssertionError("no PushedFilters section in plan")
    if fragment not in plan:
        raise AssertionError(f"{fragment!r} not pushed down; plan:\n{plan[:4000]}")
