"""Drift detection — schema + numeric-mean drift between two tables.

Reference semantics (mcp_server/tools/drift.py:38-81): column set compare
(driver-side), then per-column means of base vs target with relative diff;
|rel_diff| > threshold (default 0.1) flags drift.

Spark design: one agg pass per side (all columns), tiny broadcast join on
column name — report-plane sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from analyst_toolkit_spark.operators.profile import numeric_columns


def schema_drift(base: DataFrame, target: DataFrame) -> dict:
    b, t = set(base.columns), set(target.columns)
    return {
        "added_columns": sorted(t - b),
        "removed_columns": sorted(b - t),
        "common_columns": sorted(b & t),
    }


def numeric_drift(base: DataFrame, target: DataFrame, threshold: float = 0.1) -> DataFrame:
    """Long report: column, base_mean, target_mean, rel_diff, drifted."""
    cols = [c for c in numeric_columns(base) if c in set(numeric_columns(target))]
    if not cols:
        raise ValueError("no common numeric columns")
    b_row = base.agg(*[F.avg(c).alias(c) for c in cols])
    t_row = target.agg(*[F.avg(c).alias(c) for c in cols])

    def long_form(wide: DataFrame, name: str) -> DataFrame:
        structs = [
            F.struct(F.lit(c).alias("column"), F.col(c).cast("double").alias(name)) for c in cols
        ]
        return wide.select(F.explode(F.array(*structs)).alias("s")).select("s.*")

    joined = long_form(b_row, "base_mean").join(long_form(t_row, "target_mean"), "column")
    rel = F.when(
        F.col("base_mean") != 0, F.abs(F.col("target_mean") - F.col("base_mean")) / F.abs(F.col("base_mean"))
    ).otherwise(F.lit(None))
    return (
        joined.withColumn("rel_diff", F.round(rel, 6))
        .withColumn("drifted", F.coalesce(F.col("rel_diff") > threshold, F.lit(False)))
        .orderBy("column")
    )
