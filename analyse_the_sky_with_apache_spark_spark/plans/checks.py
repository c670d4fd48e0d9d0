"""Physical-plan inspection helper.

Correctness checks prove the values; these prove the PLAN — that a filter
reached the parquet reader, a dimension broadcast, a top-k skipped the
global sort, a bucketed join needed no Exchange. They exist because the
properties that make a query viable at 100 TB are plan properties, not
result properties, and a refactor can silently lose one while every
value-hash stays green.

Used by tests/test_plan_shape.py; also handy interactively::

    from analyse_the_sky_with_apache_spark_spark.plans.checks import plan_of
    print(plan_of(df))
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def plan_of(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as text (same output as ``df.explain(mode)``).

    Under AQE the pre-execution plan is provisional (``isFinalPlan=false``)
    — for codegen/exchange assertions, execute the DataFrame first and
    call this afterwards to see the final adaptive plan.
    """
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode
    )

