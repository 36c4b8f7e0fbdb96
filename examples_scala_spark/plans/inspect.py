"""Physical-plan access for plan-hygiene checks.

The reference has no optimizer (SURVEY §4) — programs ARE the plan.
Here the optimizer is Catalyst; `explain_str` renders the plan a query
actually materialized, so tests and tools can check the shapes relied
on at 100 TB: filters pushed into the parquet scan, pruned read
schemas, broadcast joins where expected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )
