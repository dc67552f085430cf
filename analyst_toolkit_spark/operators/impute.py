"""M07 imputation — null fill with mean/median/mode/constant.

Reference semantics (m07_imputation/impute_data.py:19-77):
- mean / median (exact, linear interpolation) / mode (tie → smallest value) /
  constant; datetime constants parsed to timestamps.
- Only nulls are touched.

Spark design: ALL statistic-based fill values are computed in ONE agg pass
(mode via ``max_by(struct)`` trick below — no per-column groupBy jobs), then
applied with ``coalesce`` literals in a single map-only projection. Two scans
total for any number of columns.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from analyst_toolkit_spark.functions.stats import collect_stats, quantile_stats


@dataclass
class ImputeSpec:
    column: str
    strategy: str  # mean | median | mode | constant
    value: Any = None  # for constant


def mode_values(df: DataFrame, columns: list[str]) -> dict[str, Any]:
    """Modes for several columns in ONE job: unpivot the columns to
    (col, value) pairs, one groupBy, then per-column argmax with the pandas
    tie-break (max count, then min value).

    The unpivot stringifies values (one shared struct type), so ties must NOT
    be ordered on the string form — numerically, '10' < '2' would invert
    (pandas mode()[0] compares natively). Each numeric column therefore
    carries a double sort key alongside the string; non-numeric columns tie-
    break on the string, which IS their native order (ISO timestamps and
    booleans included)."""
    if not columns:
        return {}
    dtypes = dict(df.dtypes)
    _NUMERIC = ("bigint", "int", "smallint", "tinyint", "double", "float")

    def _num_key(c: str):
        if dtypes[c] in _NUMERIC or dtypes[c].startswith("decimal"):
            return F.col(c).cast("double")
        return F.lit(None).cast("double")

    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col"),
                        F.col(c).cast("string").alias("value"),
                        _num_key(c).alias("num_key"),
                    )
                    for c in columns
                ]
            )
        ).alias("p")
    ).select("p.*")
    counts = (
        pairs.filter(F.col("value").isNotNull())
        .groupBy("col", "value", "num_key")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # argmax per col via window row_number (tiny input: distinct values only);
    # numeric ties order on num_key, others fall through to the string form
    from pyspark.sql import Window

    w = Window.partitionBy("col").orderBy(F.desc("cnt"), F.asc("num_key"), F.asc("value"))
    winners = counts.withColumn("rn", F.row_number().over(w)).filter("rn = 1").select("col", "value")
    raw = {r["col"]: r["value"] for r in winners.collect()}
    # cast back to the column's dtype
    dtypes = dict(df.dtypes)
    out: dict[str, Any] = {}
    for c in columns:
        v = raw.get(c)
        if v is None:
            out[c] = None
            continue
        t = dtypes[c]
        if t in ("bigint", "int", "smallint", "tinyint"):
            out[c] = int(v)
        elif t in ("double", "float"):
            out[c] = float(v)
        else:
            out[c] = v
    return out


def impute(df: DataFrame, specs: list[ImputeSpec], exact: bool = True):
    """Fill nulls per spec. Returns (df, fill_values) — fill_values is the
    changelog payload (reference report shows per-column fill value + count).
    """
    mean_cols = [s.column for s in specs if s.strategy == "mean"]
    median_cols = [s.column for s in specs if s.strategy == "median"]
    mode_cols = [s.column for s in specs if s.strategy == "mode"]

    qstats = quantile_stats(df, {c: [0.5] for c in median_cols}, exact)
    row = collect_stats(df, qstats, *[F.avg(F.col(c)).alias(f"mean::{c}") for c in mean_cols])
    fills: dict[str, Any] = {c: row[f"mean::{c}"] for c in mean_cols}
    for c in median_cols:
        q = row[f"q::{c}"]
        fills[c] = q[0] if q else None
    fills.update(mode_values(df, mode_cols))
    for s in specs:
        if s.strategy == "constant":
            fills[s.column] = s.value
        elif s.strategy not in ("mean", "median", "mode"):
            raise ValueError(f"unknown impute strategy {s.strategy!r}")

    out = df
    dtypes = dict(df.dtypes)
    _INT_TYPES = ("bigint", "int", "smallint", "tinyint")
    for s in specs:
        v = fills.get(s.column)
        if v is None:
            continue
        target_type = dtypes[s.column]
        if s.strategy in ("mean", "median") and target_type in _INT_TYPES:
            # pandas/reference semantics: fillna(mean|median) on an integer
            # column upcasts to float (a .5 median must not silently truncate)
            target_type = "double"
            out = out.withColumn(s.column, F.col(s.column).cast("double"))
        lit = F.lit(v)
        if target_type.startswith("timestamp") and isinstance(v, str):
            lit = F.to_timestamp(F.lit(v))
        out = out.withColumn(s.column, F.coalesce(F.col(s.column), lit.cast(target_type)))
    return out, fills
