"""M08 visuals → plot-DATA producers (aggregate tables, never pixels).

The reference renders matplotlib/seaborn figures straight off the full pandas
frame (m08_visuals/distributions.py:29-57 — 30-bin histogram + KDE overlay,
top-N category bars; summary_plots.py:53-78 — correlation heatmap, dtype
composition; m05_detect_outliers/plot_outliers.py — box/violin). On a
distributed engine the producer/renderer split is mandatory: every plot's data
is an AGGREGATE computed in Spark (bins, counts, five-number summaries, KDE
grid), and rendering happens driver-side over those few rows. Plots must never
pull the full table (SURVEY X3).

All producers here are single-pass aggregations; the KDE grid is the only
O(grid × rows) expression and the grid is ≤ a few hundred points.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from analyst_toolkit_spark.functions.stats import collect_stats, quantile_stats
from analyst_toolkit_spark.operators.profile import numeric_columns
from analyst_toolkit_spark.sources.io import local_frame


def histogram(
    df: DataFrame,
    column: str,
    bins: int = 30,
    minmax: tuple[float, float] | None = None,
) -> DataFrame:
    """Equal-width histogram (pandas ``plot(kind='hist', bins=30)`` semantics:
    bins span [min, max], the last bin is closed on both sides).

    Output: bin (0-based), lo, hi, count — exactly ``bins`` rows, zero-count
    bins included. Two passes: min/max agg, then one scan binning via
    width_bucket (codegen'd; no shuffle beyond the tiny bin groupBy).

    ``minmax`` (r15 optimization round): callers that already hold the exact
    (min, max) of ``column`` — e.g. from the shared quartile/min/max pass the
    outlier family runs on the same table — pass it here and the min/max agg
    pass is skipped entirely: one scan instead of two (guide §1.2: don't
    recompute what another operator on the same immutable input already
    produced). Values must be the exact min/max or bin edges shift."""
    if minmax is not None:
        mm = {"lo": minmax[0], "hi": minmax[1]}
    else:
        mm = df.agg(F.min(column).alias("lo"), F.max(column).alias("hi")).first()
    if mm["lo"] is None:
        return local_frame(df.sparkSession, [], "bin int, lo double, hi double, count long")
    lo, hi = float(mm["lo"]), float(mm["hi"])
    if lo == hi:  # degenerate: single value → one occupied bin
        hi = lo + 1.0
    width = (hi - lo) / bins
    bucket = F.least(
        F.floor((F.col(column) - F.lit(lo)) / F.lit(width)).cast("int"), F.lit(bins - 1)
    )
    counts = {
        int(r["bin"]): int(r["count"])
        for r in df.filter(F.col(column).isNotNull())
        .groupBy(bucket.alias("bin"))
        .agg(F.count(F.lit(1)).alias("count"))
        .collect()
    }
    rows = [
        {"bin": b, "lo": lo + b * width, "hi": lo + (b + 1) * width, "count": counts.get(b, 0)}
        for b in range(bins)
    ]
    return local_frame(df.sparkSession, rows, "bin int, lo double, hi double, count long")


def boxplot_stats(
    df: DataFrame,
    columns: list[str] | None = None,
    whisker: float = 1.5,
    precomputed: dict[str, dict] | None = None,
) -> DataFrame:
    """Five-number summary + whiskers + outlier count per column, ONE agg pass
    for all columns (seaborn boxplot semantics: whiskers at the most extreme
    points within q1/q3 ± whisker*IQR; points beyond are fliers).

    Output: column, min, q1, median, q3, max, lo_whisker, hi_whisker, n_outliers.

    ``precomputed`` (col -> {"q": [q1, med, q3], "min": .., "max": ..}) skips
    the quartile pass — callers running detect/clip/boxplot over the same
    table should compute those statistics once and share them.
    """
    cols = columns or numeric_columns(df)
    if precomputed is not None:
        row = {}
        for c in cols:
            p = precomputed[c]
            row[f"q::{c}"] = p["q"]
            row[f"min::{c}"] = p["min"]
            row[f"max::{c}"] = p["max"]
    else:
        row = collect_stats(df, quantile_stats(df, {c: [0.25, 0.5, 0.75] for c in cols}, minmax=True))

    # second pass batched for all columns: whisker ends (extremes within
    # fence) + flier counts — still one scan
    aggs2 = []
    fences = {}
    for c in cols:
        q = row[f"q::{c}"]
        if q is None or q[0] is None:
            continue
        q1, q3 = float(q[0]), float(q[2])
        iqr = q3 - q1
        f_lo, f_hi = q1 - whisker * iqr, q3 + whisker * iqr
        fences[c] = (f_lo, f_hi)
        within = F.when(F.col(c).between(F.lit(f_lo), F.lit(f_hi)), F.col(c))
        aggs2.append(F.min(within).alias(f"wlo::{c}"))
        aggs2.append(F.max(within).alias(f"whi::{c}"))
        aggs2.append(
            F.sum(((F.col(c) < F.lit(f_lo)) | (F.col(c) > F.lit(f_hi))).cast("long")).alias(f"out::{c}")
        )
    row2 = df.agg(*aggs2).first() if aggs2 else None

    rows = []
    for c in cols:
        q = row[f"q::{c}"]
        if q is None or q[0] is None:
            continue
        rows.append(
            {
                "column": c,
                "min": float(row[f"min::{c}"]),
                "q1": float(q[0]),
                "median": float(q[1]),
                "q3": float(q[2]),
                "max": float(row[f"max::{c}"]),
                "lo_whisker": float(row2[f"wlo::{c}"]),
                "hi_whisker": float(row2[f"whi::{c}"]),
                "n_outliers": int(row2[f"out::{c}"] or 0),
            }
        )
    schema = (
        "column string, min double, q1 double, median double, q3 double, max double, "
        "lo_whisker double, hi_whisker double, n_outliers long"
    )
    return local_frame(df.sparkSession, rows, schema)


def kde_grid(df: DataFrame, column: str, grid_points: int = 100, bandwidth: float | None = None) -> DataFrame:
    """Gaussian KDE evaluated on an equal-spaced grid (the data behind
    ``plot(kind='kde')`` overlays). Bandwidth defaults to Scott's rule
    (n^(-1/5)·σ), like pandas/scipy.

    One stats agg, then ONE scan that accumulates all grid densities
    (sum of kernels per grid point, expressed as `grid_points` aggregate
    columns — bounded by the grid size, independent of row count).
    Output: x, density."""
    stats = df.agg(
        F.count(column).alias("n"), F.stddev_samp(column).alias("sd"),
        F.min(column).alias("lo"), F.max(column).alias("hi"),
    ).first()
    n, sd = stats["n"], stats["sd"]
    if not n or sd is None or sd == 0:
        return local_frame(df.sparkSession, [], "x double, density double")
    lo, hi = float(stats["lo"]), float(stats["hi"])
    bw = bandwidth or float(sd) * n ** (-1 / 5)
    pad = 3 * bw
    xs = [lo - pad + i * (hi - lo + 2 * pad) / (grid_points - 1) for i in range(grid_points)]
    c = F.col(column)
    norm = 1.0 / (n * bw * math.sqrt(2 * math.pi))
    aggs = [
        F.sum(F.exp(((c - F.lit(x)) / F.lit(bw)) ** 2 * F.lit(-0.5))).alias(f"g{i}")
        for i, x in enumerate(xs)
    ]
    row = df.agg(*aggs).first()
    rows = [{"x": x, "density": float(row[f"g{i}"] or 0.0) * norm} for i, x in enumerate(xs)]
    return local_frame(df.sparkSession, rows, "x double, density double")


def dtype_composition(df: DataFrame) -> DataFrame:
    """dtype → column count (summary_plots.py:78) — schema-only, no scan."""
    counts: dict[str, int] = {}
    for _, t in df.dtypes:
        counts[t] = counts.get(t, 0) + 1
    return local_frame(
        df.sparkSession,
        [{"dtype": t, "n_columns": n} for t, n in sorted(counts.items())],
        "dtype string, n_columns long",
    )


def top_categories(df: DataFrame, column: str, top_n: int = 20) -> DataFrame:
    """Top-N category counts for bar charts (distributions.py:57)."""
    return (
        df.groupBy(F.col(column).alias("value"))
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), F.asc_nulls_last("value"))
        .limit(top_n)
    )


def histogram_pair(
    df_before: DataFrame, df_after: DataFrame, column: str, bins: int = 30
) -> tuple[DataFrame, DataFrame]:
    """Before/after histograms on SHARED bin edges — the aggregate feed for
    the reference's imputation comparison overlay
    (m08_visuals/comparison_plots.py:30-56, KDE-over-KDE). On a distributed
    engine the comparable form is two binned counts over one common [lo, hi]
    span: three tiny aggs total (one min/max per side, then one binned
    groupBy per side), every one map-side combinable. Output rows per side
    == ``bins`` — page size is independent of table size.
    """
    spans = []
    for d in (df_before, df_after):
        mm = d.agg(F.min(column).alias("lo"), F.max(column).alias("hi")).first()
        if mm["lo"] is not None:
            spans.append((float(mm["lo"]), float(mm["hi"])))
    spark = df_before.sparkSession
    empty_schema = "bin int, lo double, hi double, count long"
    if not spans:
        return local_frame(spark, [], empty_schema), local_frame(spark, [], empty_schema)
    lo = min(s[0] for s in spans)
    hi = max(s[1] for s in spans)
    if lo == hi:
        hi = lo + 1.0
    width = (hi - lo) / bins

    def _bin(d: DataFrame) -> DataFrame:
        bucket = F.least(
            F.floor((F.col(column) - F.lit(lo)) / F.lit(width)).cast("int"), F.lit(bins - 1)
        )
        counts = {
            int(r["bin"]): int(r["count"])
            for r in d.filter(F.col(column).isNotNull())
            .groupBy(bucket.alias("bin"))
            .agg(F.count(F.lit(1)).alias("count"))
            .collect()
        }
        rows = [
            {"bin": b, "lo": lo + b * width, "hi": lo + (b + 1) * width, "count": counts.get(b, 0)}
            for b in range(bins)
        ]
        return local_frame(spark, rows, empty_schema)

    return _bin(df_before), _bin(df_after)


def top_categories_pair(
    df_before: DataFrame, df_after: DataFrame, column: str, top_n: int = 20
) -> DataFrame:
    """Aligned before/after value counts for the categorical comparison bars
    (comparison_plots.py:73-113: concat of two value_counts, fillna(0)).

    One union+pivot-free plan: tag each side, one groupBy(value) with two
    conditional sums, rank by combined count, keep top-N. A single shuffle on
    the category key regardless of input size; null categories keep the
    reference's dropna=False behavior via a sentinel-free null group.
    Output: value, before, after — ≤ top_n rows.
    """
    tagged = df_before.select(
        F.col(column).alias("value"), F.lit(1).alias("__b"), F.lit(0).alias("__a")
    ).unionAll(
        df_after.select(F.col(column).alias("value"), F.lit(0).alias("__b"), F.lit(1).alias("__a"))
    )
    return (
        tagged.groupBy("value")
        .agg(F.sum("__b").alias("before"), F.sum("__a").alias("after"))
        .orderBy(F.desc(F.col("before") + F.col("after")), F.asc_nulls_last("value"))
        .limit(top_n)
    )
