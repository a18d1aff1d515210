"""Physical-plan inspection helpers — the 'is this the plan I want'
toolkit used by the plan-regression tests and by hand during tuning."""

from __future__ import annotations

from pyspark.sql import DataFrame


def explain_formatted(df: DataFrame) -> str:
    """The formatted explain output as a string (explain() only prints)."""
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )

