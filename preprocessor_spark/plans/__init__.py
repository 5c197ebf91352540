"""Plan inspection: the formatted physical plan, in which callers look for
pushed filters, broadcast joins and whole-stage codegen."""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
