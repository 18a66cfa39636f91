"""The formatted physical plan of a DataFrame, as Spark's
``EXPLAIN FORMATTED`` prints it; ``tools_gen_plans.py`` dumps it per key
on demand, and the plan-shape tests in ``tests/`` read it."""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )
