"""M05/M06 outlier detection + handling.

Reference semantics (m05_detect_outliers/detect_outliers.py:17-28, 74-76):
- IQR: bounds = q1 - k*IQR, q3 + k*IQR with EXACT linearly-interpolated
  quartiles (pandas quantile) — precision is semantic because bounds feed
  predicates.
- z-score: |x - mean| / stddev(ddof=1) > t.
- Null values get flag=False, never null.
Handling (m06_outlier_handling/outlier_handler.py:51-103): drop flagged rows, or
masked update (clip / mean / median / constant) applied only where flagged.

Spark design: bounds are computed in ONE agg pass for all requested columns,
then applied as literal predicates (a second map-only pass; no shuffle, no
window). That is the 100 TB-safe shape: aggregate → broadcast scalars → filter.
``exact=False`` switches to approx_percentile for the bounds.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from analyst_toolkit_spark.functions.stats import (
    _nan_as_null,
    any_horizontal,
    collect_stats,
    percentile_exact,
    quantile_stats,
)


@dataclass
class OutlierSpec:
    column: str
    method: str = "iqr"  # iqr | zscore
    multiplier: float = 1.5  # IQR multiplier
    threshold: float = 3.0  # z-score threshold


def compute_bounds(df: DataFrame, specs: list[OutlierSpec], exact: bool = True) -> dict[str, tuple[float, float]]:
    """column -> (lower, upper) bound, all specs in one aggregation pass.

    IQR quartiles come from ``functions.stats.quantile_stats``, whose tier
    follows the input size (every exact tier gives the same values);
    mean/stddev for z-score specs ride the same agg.
    """
    aggs = []
    for s in specs:
        c = F.col(s.column)
        if s.method == "zscore":
            aggs.append(F.avg(c).alias(f"{s.column}__mean"))
            aggs.append(F.stddev_samp(c).alias(f"{s.column}__std"))
        elif s.method != "iqr":
            raise ValueError(f"unknown outlier method {s.method!r}")
    qstats = quantile_stats(df, {s.column: [0.25, 0.75] for s in specs if s.method == "iqr"}, exact)
    row = collect_stats(df, qstats, *aggs)
    bounds: dict[str, tuple[float, float]] = {}
    for s in specs:
        if s.method == "iqr":
            q = row[f"q::{s.column}"]
            if q is None or q[0] is None:
                bounds[s.column] = (float("-inf"), float("inf"))
                continue
            q1, q3 = float(q[0]), float(q[1])
            iqr = q3 - q1
            bounds[s.column] = (q1 - s.multiplier * iqr, q3 + s.multiplier * iqr)
        else:
            m, sd = row[f"{s.column}__mean"], row[f"{s.column}__std"]
            if m is None or sd is None or sd == 0:
                bounds[s.column] = (float("-inf"), float("inf"))
                continue
            bounds[s.column] = (m - s.threshold * sd, m + s.threshold * sd)
    return bounds


def flag_expr(df: DataFrame, column: str, lo: float, hi: float) -> Column:
    """Outlier predicate with null→False parity (detect_outliers.py:74-76).
    NaN counts as missing, as in pandas: Spark orders NaN above every value,
    so ``NaN > hi`` would otherwise flag it."""
    c = _nan_as_null(df, column)
    return F.coalesce((c < F.lit(lo)) | (c > F.lit(hi)), F.lit(False))


def detect_outliers(
    df: DataFrame,
    specs: list[OutlierSpec],
    exact: bool = True,
    bounds: dict[str, tuple[float, float]] | None = None,
):
    """Append one boolean ``<col>_<method>_outlier`` flag per spec.

    Returns (flagged_df, detection_results) — the results dict is the
    cross-module edge the handler consumes (reference run_detection_pipeline →
    outlier_handling in run_toolkit_pipeline.py:136-166).

    ``bounds`` lets callers share one statistics pass across several
    operators on the same table (IQR detect + clip + boxplot recompute
    identical quartiles otherwise — the exact-percentile merge is the
    expensive part at scale).
    """
    if bounds is None:
        bounds = compute_bounds(df, specs, exact=exact)
    out = df
    results = {}
    for s in specs:
        lo, hi = bounds[s.column]
        flag = f"{s.column}_{s.method}_outlier"
        out = out.withColumn(flag, flag_expr(df, s.column, lo, hi))
        results[s.column] = {"method": s.method, "lower": lo, "upper": hi, "flag_col": flag}
    return out, results


def handle_outliers_per_column(
    df: DataFrame,
    detection_results: dict,
    strategies: dict[str, dict],
    exact: bool = True,
) -> DataFrame:
    """Per-column handling strategies (reference handling_specs contract,
    config/handling_config_template.yaml:24-40): ``strategies[col] =
    {"strategy": ..., "fill_value": ...}`` with ``__default__``/``__global__``
    fallbacks; ``none`` leaves values untouched.

    Columns are grouped by (strategy, fill_value) so each replacement batch
    shares one statistics pass — total scans stay O(strategies), not O(columns).
    """
    default = strategies.get("__default__", strategies.get("__global__", {"strategy": "none"}))
    by_group: dict[tuple, dict] = {}
    out = df
    for col, info in detection_results.items():
        s = strategies.get(col, default) or {}
        strategy = s.get("strategy", "none")
        if strategy in ("none", None):
            out = out.drop(info["flag_col"])
            continue
        by_group.setdefault((strategy, s.get("fill_value")), {})[col] = info
    for (strategy, fill_value), group in by_group.items():
        out = handle_outliers(out, group, strategy, constant=fill_value, exact=exact)
    return out


def handle_outliers(
    df: DataFrame,
    detection_results: dict,
    strategy: str = "clip",
    constant: float | None = None,
    exact: bool = True,
) -> DataFrame:
    """Apply a handling strategy where flags are set (outlier_handler.py:51-103).

    strategy ∈ {drop, clip, mean, median, constant}. Replacement scalars (mean/
    median of NON-flagged values — the reference recomputes on the masked frame,
    outlier_handler.py:94-96) are gathered in one extra agg pass, then applied
    as literals: still two scans total regardless of column count.
    """
    flag_cols = [v["flag_col"] for v in detection_results.values()]
    if strategy == "drop":
        return df.filter(~any_horizontal([F.col(c) for c in flag_cols])).drop(*flag_cols)

    replacements: dict[str, float] = {}
    if strategy in ("mean", "median"):
        aggs = []
        for col, info in detection_results.items():
            kept = F.when(~F.col(info["flag_col"]), _nan_as_null(df, col))
            if strategy == "mean":
                aggs.append(F.avg(kept).alias(col))
            else:
                aggs.append(
                    (percentile_exact(kept, 0.5) if exact else F.percentile_approx(kept, 0.5, 10000)).alias(col)
                )
        row = df.agg(*aggs).collect()[0]
        replacements = {c: row[c] for c in detection_results}

    out = df
    for col, info in detection_results.items():
        flag, c = F.col(info["flag_col"]), F.col(col)
        if strategy == "clip":
            repl = F.greatest(F.least(c, F.lit(info["upper"])), F.lit(info["lower"]))
        elif strategy == "constant":
            repl = F.lit(constant)
        else:
            repl = F.lit(replacements[col])
        out = out.withColumn(col, F.when(flag, repl).otherwise(c))
    return out.drop(*flag_cols)
