"""Plan-introspection helpers shared by tests and scripts/dump_plans.

``explainString`` via PythonSQLUtils is a py4j-private surface that
shifts across PySpark releases — keep the incantation in ONE place.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The ``.explain("formatted")`` text of a DataFrame, returned
    instead of printed."""
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def codegen_plan(df: DataFrame) -> str:
    """The ``.explain("codegen")`` text (whole-stage codegen subtrees)."""
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "codegen")
