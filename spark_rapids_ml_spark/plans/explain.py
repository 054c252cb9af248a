"""Plan inspection helpers — the engine's `.explain` toolkit.

Used by tests/test_plans.py to pin scale-critical plan shapes, and by
``python -m spark_rapids_ml_spark.plans.dump`` to snapshot the
executed plans of the headline queries for review.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def plan_of(df: DataFrame) -> str:
    """Executed (physical) plan string, post-AQE if already executed."""
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df: DataFrame) -> str:
    """`EXPLAIN FORMATTED` text (scan details: PushedFilters, ReadSchema,
    PartitionFilters)."""
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def pushed_filters(df: DataFrame) -> str:
    txt = formatted(df)
    if "PushedFilters:" not in txt:
        return ""
    return txt.split("PushedFilters:")[1].splitlines()[0].strip()


def read_schema(df: DataFrame) -> str:
    txt = formatted(df)
    if "ReadSchema:" not in txt:
        return ""
    return txt.split("ReadSchema:")[1].splitlines()[0].strip()
