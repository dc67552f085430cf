"""M01 diagnostics → single-pass distributed profiler, and the engine's one
implementation of per-column counts.

The reference computes nulls, nunique, describe(), skew, kurt, duplicate counts
with ~a dozen separate eager pandas calls over the whole table
(reference m01_diagnostics/data_diag.py:46-113). A naive translation would be a
dozen full scans of 100 TB. Here every requested metric compiles into ONE
``df.agg(...)`` pass (all metrics for all columns are independent aggregate
expressions, fused by whole-stage codegen into a single scan), plus one
optional groupBy-all-columns pass for the duplicate-row count.

:func:`column_stats` — row count, missing count, distinct count and, for
numeric columns, min and max — is the only code that computes those numbers;
``profile``, ``data_dictionary`` and ``infer_configs`` all read them from its
two per-tier pieces. Tiny known inputs (the size gate of
``functions.stats.collect_driver_bounded``) take the driver tier: one bounded
Arrow collect, everything in pandas. Everything else takes the Spark tier: one
count/min/max aggregate plus one distinct aggregate. NaN in float/double
columns is missing on both tiers, as pandas reads it.

Output is a *long* profile table (one row per column) — small, deterministic,
oracle-checkable.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from analyst_toolkit_spark.functions.stats import (
    _nan_as_null,
    collect_driver_bounded,
    kurtosis_g2,
    percentile_exact,
    quantile_stats,
    skewness_g1,
)
from analyst_toolkit_spark.ingest import ROW_ID
from analyst_toolkit_spark.sources.io import local_frame

NUMERIC_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
)


def numeric_columns(df: DataFrame) -> list[str]:
    """select_dtypes("number") equivalent (reference data_diag.py:46)."""
    return [f.name for f in df.schema.fields if isinstance(f.dataType, NUMERIC_TYPES)]


def categorical_columns(df: DataFrame) -> list[str]:
    """select_dtypes(["object","category"]) equivalent."""
    return [f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)]


def _driver_frame(df: DataFrame, cols: list[str]):
    """The driver tier's pandas frame of ``cols``, or None for the Spark tier:
    the input is not known-small, the row cap tripped, or a column is
    non-atomic (pandas cannot hash the arrays an ``array`` column collects
    to, so ``nunique`` would fail)."""
    if any(not isinstance(df.schema[c].dataType, T.AtomicType) for c in cols):
        return None
    return collect_driver_bounded(df, cols)


def _pandas_stats(pdf, c: str, numeric: bool):
    """One column of the driver tier's frame: its :func:`column_stats`
    fields, and for a numeric column its non-missing values as floats (empty
    otherwise). pandas reads null and NaN alike as missing."""
    import numpy as np

    s = pdf[c].dropna()
    vals = s.to_numpy(dtype=float) if numeric else np.empty(0)
    stats = {
        "count": len(pdf),
        "nulls": len(pdf) - len(s),
        "n_unique": int(s.nunique()),
        "min": float(vals.min()) if vals.size else None,
        "max": float(vals.max()) if vals.size else None,
    }
    return stats, vals


def _spark_aggs(df: DataFrame, cols: list[str], num: set[str], approx_rsd: float | None):
    """The Spark tier's :func:`column_stats` aggregates over the value Columns
    of ``cols`` — each float/double column read through ``_nan_as_null`` here,
    once. Distinct counts are exact, or HLL sketches of relative error
    ``approx_rsd`` when one is given. Returns (the count/min/max aggregate,
    the distinct aggregate, the value Columns for the caller's own
    statistics).

    Exact distinct counts go in a SEPARATE aggregation: mixing countDistinct
    with TypedImperative aggs (percentile) triggers Catalyst's EXPAND
    rewrite, which multiplies every input row per distinct column and makes
    the percentile buffers chew N× the data (measured 13 s vs 3 s on a
    6-column table). approx_count_distinct is a sketch — no EXPAND — so the
    approx path stays single-pass."""
    values = {c: _nan_as_null(df, c) for c in cols}
    aggs: list = [F.count(F.lit(1)).alias("__rows")]
    dist_aggs: list = []
    for c, v in values.items():
        aggs.append(F.count(v).alias(f"{c}__count"))
        if approx_rsd is None:
            dist_aggs.append(F.count_distinct(v).alias(f"{c}__nunique"))
        else:
            aggs.append(F.approx_count_distinct(v, approx_rsd).alias(f"{c}__nunique"))
        if c in num:
            aggs += [F.min(v).cast("double").alias(f"{c}__min"), F.max(v).cast("double").alias(f"{c}__max")]
    return aggs, dist_aggs, values


def _wide(df: DataFrame, aggs: list, dist_aggs: list) -> DataFrame:
    """The one-row frame of both Spark-tier aggregates (a 1-row × 1-row join)."""
    wide = df.agg(*aggs)
    return wide.crossJoin(df.agg(*dist_aggs)) if dist_aggs else wide


def column_stats(df: DataFrame, columns: list[str] | None = None) -> list[dict]:
    """Per column (default: every column but the row id): ``column``,
    ``dtype``, row ``count``, missing count ``nulls`` (null, and NaN in
    float/double columns), distinct non-missing values ``n_unique``, and for
    numeric columns ``min``/``max`` as floats (None otherwise, and for a
    column with no value). The driver tier reads one bounded collect in
    pandas; the Spark tier runs one count/min/max and one distinct
    aggregate."""
    cols = columns or [c for c in df.columns if c != ROW_ID]
    num = set(numeric_columns(df))
    dtypes = dict(df.dtypes)
    pdf = _driver_frame(df, cols)
    if pdf is not None:
        stats = {c: _pandas_stats(pdf, c, c in num)[0] for c in cols}
    else:
        aggs, dist_aggs, _ = _spark_aggs(df, cols, num, None)
        row = _wide(df, aggs, dist_aggs).first()
        n = row["__rows"]
        stats = {
            c: {
                "count": n,
                "nulls": n - row[f"{c}__count"],
                "n_unique": row[f"{c}__nunique"],
                "min": row[f"{c}__min"] if c in num else None,
                "max": row[f"{c}__max"] if c in num else None,
            }
            for c in cols
        }
    return [{"column": c, "dtype": dtypes[c], **stats[c]} for c in cols]


def profile(
    df: DataFrame,
    columns: list[str] | None = None,
    exact: bool = True,
    approx_rsd: float = 0.05,
) -> DataFrame:
    """Single-pass column profile.

    Per column: the :func:`column_stats` counts (row count, missing count,
    missing share, distinct count); numerics additionally get mean, stddev
    (ddof=1), min, max, q25/q50/q75 (exact linear interpolation),
    bias-corrected skewness and kurtosis — pandas/DuckDB parity (see
    functions/stats.py), with NaN read as missing.

    ``exact=False`` switches distinct→approx_count_distinct and
    percentiles→approx_percentile: the 100 TB fast path (t-digest / HLL sketch,
    mergeable map-side, no sort).

    Returns a long DataFrame:
      column, count, nulls, null_pct, n_unique, mean, stddev, min, max,
      q25, q50, q75, skewness, kurtosis
    """
    cols = columns or df.columns
    num = set(numeric_columns(df))
    if exact:
        # Tiny known input: ONE Arrow collect of the profiled columns and the
        # whole profile computes in pandas/numpy — no Spark aggregation jobs
        # at all. 3-4x faster than the fused agg below at sub-128 MB scale
        # (the percentile aggregate's per-value hash-map update dominates),
        # and skew/kurt come from pandas itself — the exact reference
        # semantics.
        pdf = _driver_frame(df, cols)
        if pdf is not None:
            return _profile_pandas(df, pdf, cols, num)
    # Quartiles come from quantile_stats: aggregate Columns that join the
    # fused agg below, or (above the refine threshold) values from the
    # bounded-memory refine path that re-enter the agg as literals.
    qstats = quantile_stats(df, {c: [0.25, 0.5, 0.75] for c in cols if c in num}, exact)
    aggs, dist_aggs, values = _spark_aggs(df, cols, num, None if exact else approx_rsd)
    for k, v in qstats.items():
        aggs.append((v if isinstance(v, Column) else F.array(*[F.lit(x).cast("double") for x in v])).alias(k))
    for c, v in values.items():
        if c in num:
            aggs += [
                F.avg(v).alias(f"{c}__mean"),
                F.stddev_samp(v).alias(f"{c}__std"),
                skewness_g1(v).alias(f"{c}__skew"),
                kurtosis_g2(v).alias(f"{c}__kurt"),
            ]
    wide = _wide(df, aggs, dist_aggs)

    # Pivot the single wide row to long form IN-PLAN (no driver collect):
    # one struct per column, then inline explode. The wide row is 1 row, so this
    # stage is trivially cheap; the heavy lifting stays in the single agg scan.
    structs = []
    for c in cols:
        is_num = c in num

        def _q(i: int, c: str = c, is_num: bool = is_num):
            return F.col(f"q::{c}")[i].cast("double") if is_num else F.lit(None).cast("double")

        structs.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col("__rows").cast("long").alias("count"),
                (F.col("__rows") - F.col(f"{c}__count")).cast("long").alias("nulls"),
                F.when(
                    F.col("__rows") > 0,
                    (F.col("__rows") - F.col(f"{c}__count")) / F.col("__rows"),
                )
                .cast("double")
                .alias("null_pct"),
                F.col(f"{c}__nunique").cast("long").alias("n_unique"),
                (F.col(f"{c}__mean").cast("double") if is_num else F.lit(None).cast("double")).alias("mean"),
                (F.col(f"{c}__std").cast("double") if is_num else F.lit(None).cast("double")).alias("stddev"),
                (F.col(f"{c}__min") if is_num else F.lit(None).cast("double")).alias("min"),
                (F.col(f"{c}__max") if is_num else F.lit(None).cast("double")).alias("max"),
                _q(0).alias("q25"),
                _q(1).alias("q50"),
                _q(2).alias("q75"),
                (F.col(f"{c}__skew").cast("double") if is_num else F.lit(None).cast("double")).alias("skewness"),
                (F.col(f"{c}__kurt").cast("double") if is_num else F.lit(None).cast("double")).alias("kurtosis"),
            )
        )
    return wide.select(F.explode(F.array(*structs)).alias("p")).select("p.*")


_PROFILE_SCHEMA = T.StructType(
    [
        T.StructField("column", T.StringType()),
        T.StructField("count", T.LongType()),
        T.StructField("nulls", T.LongType()),
        T.StructField("null_pct", T.DoubleType()),
        T.StructField("n_unique", T.LongType()),
        T.StructField("mean", T.DoubleType()),
        T.StructField("stddev", T.DoubleType()),
        T.StructField("min", T.DoubleType()),
        T.StructField("max", T.DoubleType()),
        T.StructField("q25", T.DoubleType()),
        T.StructField("q50", T.DoubleType()),
        T.StructField("q75", T.DoubleType()),
        T.StructField("skewness", T.DoubleType()),
        T.StructField("kurtosis", T.DoubleType()),
    ]
)


def _profile_pandas(df: DataFrame, pdf, cols: list[str], num: set[str]) -> DataFrame:
    """profile()'s driver tier: the :func:`column_stats` fields of the
    collected frame, plus moments and quartiles via pandas/numpy (identical
    formulas: linear-interpolation quantiles, ddof=1 stddev, pandas G1/G2
    skew/kurt — see functions/stats), re-entered as a local DataFrame with
    the standard profile schema."""
    import numpy as np
    import pandas as pd

    out_rows = []
    for c in cols:
        stats, vals = _pandas_stats(pdf, c, c in num)
        n = vals.size
        row = dict.fromkeys(_PROFILE_SCHEMA.fieldNames())
        row.update(column=c, null_pct=stats["nulls"] / stats["count"] if stats["count"] else None, **stats)
        if n > 0:
            s = pd.Series(vals)
            q25, q50, q75 = np.quantile(vals, [0.25, 0.5, 0.75])
            row.update(
                mean=_nan_none(vals.mean()),
                stddev=_nan_none(np.std(vals, ddof=1)) if n > 1 else None,
                q25=_nan_none(q25),
                q50=_nan_none(q50),
                q75=_nan_none(q75),
                skewness=_nan_none(s.skew()) if n >= 3 else None,
                kurtosis=_nan_none(s.kurt()) if n >= 4 else None,
            )
        out_rows.append(row)
    return local_frame(df.sparkSession, out_rows, _PROFILE_SCHEMA)


def _nan_none(x) -> float | None:
    """A float, with NaN (e.g. the mean of +inf and -inf) as None."""
    x = float(x)
    return None if math.isnan(x) else x


def profile_by(
    df: DataFrame,
    keys: list[str],
    columns: list[str] | None = None,
    exact: bool = True,
) -> DataFrame:
    """Grouped profile: per-key count/mean/stddev/min/max/median for each
    numeric column — segment-level diagnostics the reference can't express
    without N pandas passes. One groupBy pass; exact grouped medians batch
    into the same aggregation (percentile is partial-aggregable per group).

    Output: keys..., column, count, nulls, mean, stddev, min, max, q50.
    """
    cols = columns or [c for c in numeric_columns(df) if c not in keys]
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in cols:
        col = F.col(c)
        aggs += [
            F.count(col).alias(f"{c}__count"),
            F.avg(col).alias(f"{c}__mean"),
            F.stddev_samp(col).alias(f"{c}__std"),
            F.min(col).cast("double").alias(f"{c}__min"),
            F.max(col).cast("double").alias(f"{c}__max"),
            (percentile_exact(col, 0.5) if exact else F.percentile_approx(col, 0.5, 10000)).alias(f"{c}__q50"),
        ]
    wide = df.groupBy(*keys).agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"{c}__count").cast("long").alias("count"),
            (F.col("__rows") - F.col(f"{c}__count")).cast("long").alias("nulls"),
            F.col(f"{c}__mean").cast("double").alias("mean"),
            F.col(f"{c}__std").cast("double").alias("stddev"),
            F.col(f"{c}__min").alias("min"),
            F.col(f"{c}__max").alias("max"),
            F.col(f"{c}__q50").cast("double").alias("q50"),
        )
        for c in cols
    ]
    return wide.select(*keys, F.explode(F.array(*structs)).alias("p")).select(*keys, "p.*")


def diagnostics_report(
    df: DataFrame,
    skew_threshold: float = 2.0,
    expected_dtypes: dict[str, str] | None = None,
    high_cardinality_threshold: int = 50,
    max_rows: int = 5,
    exact: bool = True,
) -> dict:
    """The reference's full M01 report dict (data_diag.py:40-115), rebuilt
    from ONE profile pass: schema table with audit remarks (unexpected dtype,
    high |skew|), missing-value stats, high-cardinality string columns,
    duplicate summary + example duplicated rows, describe table, preview,
    shape, size. Every table is a small collected aggregate or a ``limit``
    slice — nothing scans twice and nothing pulls the full frame.
    """
    expected_dtypes = expected_dtypes or {}
    prof = {r["column"]: r.asDict() for r in profile(df, exact=exact).collect()}
    dtypes = dict(df.dtypes)

    schema_rows = []
    for c in df.columns:
        p = prof[c]
        remarks = []
        if c in expected_dtypes and dtypes[c] != expected_dtypes[c]:
            remarks.append(f"Unexpected Type (Expected: {expected_dtypes[c]})")
        skew = p.get("skewness")
        if skew is not None and abs(skew) > skew_threshold:
            remarks.append(f"High Skew ({skew:.2f})")
        schema_rows.append(
            {
                "column": c,
                "dtype": dtypes[c],
                "n_unique": p["n_unique"],
                "missing_count": p["nulls"],
                "missing_pct": round(p["null_pct"] * 100, 2) if p["null_pct"] is not None else 0.0,
                "audit_remarks": "; ".join(remarks) if remarks else "OK",
            }
        )

    high_card = sorted(
        (
            {"column": r["column"], "n_unique": r["n_unique"]}
            for r in schema_rows
            if dtypes[r["column"]] == "string" and r["n_unique"] > high_cardinality_threshold
        ),
        key=lambda r: -r["n_unique"],
    )

    dup_row = duplicate_row_count(df).first()
    n_rows = next(iter(prof.values()))["count"] if prof else 0
    dup_summary = {
        "duplicate_rows": int(dup_row["dup_rows"]),
        "duplicate_pct": round(dup_row["dup_rows"] / n_rows * 100, 2) if n_rows else 0.0,
    }
    from pyspark.sql import Window

    w = Window.partitionBy(*df.columns)
    duplicated_preview = (
        df.withColumn("__n", F.count(F.lit(1)).over(w)).filter("__n > 1").drop("__n").limit(max_rows)
    )

    describe = [p for p in prof.values() if p.get("mean") is not None or dtypes[p["column"]] in (
        "bigint", "int", "double", "float", "smallint", "tinyint")]

    return {
        "schema": schema_rows,
        "high_cardinality": high_card,
        "duplicate_summary": dup_summary,
        "duplicated_rows_preview": duplicated_preview,
        "describe": describe,
        "sample_head": df.limit(max_rows),
        "shape": {"rows": n_rows, "columns": len(df.columns)},
        "size": table_stats(df),
    }


def table_stats(df: DataFrame) -> dict:
    """A21/A22 analogue: shape + size. pandas ``memory_usage(deep=True)`` has
    no distributed equivalent; report the optimizer's size estimate
    (``sizeInBytes`` from the logical plan — parquet footer/catalog stats, no
    scan) plus rows × cols from one count."""
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return {
        "rows": df.count(),
        "columns": len(df.columns),
        "estimated_bytes": size,
    }


def duplicate_row_count(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """Count of duplicated rows, pandas ``duplicated(keep=False).sum()`` parity
    (reference data_diag.py:94, m04_duplicates/detect_dupes.py:32): every member
    of a >1 group counts. One groupBy (map-side partial agg) + tiny final agg.
    """
    keys = subset or df.columns
    return (
        df.groupBy(*keys)
        .count()
        .filter(F.col("count") > 1)
        .agg(
            F.coalesce(F.sum("count"), F.lit(0)).cast("long").alias("dup_rows"),
            F.count(F.lit(1)).cast("long").alias("dup_groups"),
        )
    )


def value_counts(df: DataFrame, column: str, dropna: bool = False, top_n: int | None = None) -> DataFrame:
    """pandas ``value_counts`` parity (reference report_tables.py:41-42):
    includes the null bucket when ``dropna=False``; descending count, then value
    ascending for a deterministic, hash-stable order."""
    out = df.groupBy(F.col(column).alias("value")).agg(F.count(F.lit(1)).alias("count"))
    if dropna:
        out = out.filter(F.col("value").isNotNull())
    out = out.orderBy(F.desc("count"), F.asc_nulls_last("value"))
    return out.limit(top_n) if top_n else out


def crosstab_counts(df: DataFrame, row_col: str, col_col: str) -> DataFrame:
    """pandas ``crosstab`` analogue in LONG form (row_value, col_value, count)
    — one groupBy on both keys; long output keeps the result hash-stable and
    avoids the wide-pivot column explosion at high cardinality. Null buckets
    included (dropna=False parity). Pivot to wide with
    ``.groupBy(row).pivot(col).sum("count")`` when a matrix is wanted."""
    return (
        df.groupBy(F.col(row_col).alias("row_value"), F.col(col_col).alias("col_value"))
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy("row_value", "col_value")
    )


def correlation_matrix(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Pairwise Pearson correlation, long form (col_x, col_y, corr), upper
    triangle incl. diagonal (reference m08_visuals/summary_plots.py:60).

    All C(k,2) ``F.corr`` aggregates fuse into ONE scan — for profile-sized
    column counts this beats assembling an MLlib vector + Correlation.corr
    (which shuffles a vector copy of the table).
    """
    cols = columns or numeric_columns(df)
    aggs = []
    for i, a in enumerate(cols):
        for b in cols[i:]:
            aggs.append(F.corr(a, b).alias(f"{a}||{b}"))
    wide = df.agg(*aggs)
    structs = []
    for i, a in enumerate(cols):
        for b in cols[i:]:
            structs.append(
                F.struct(
                    F.lit(a).alias("col_x"),
                    F.lit(b).alias("col_y"),
                    F.col(f"`{a}||{b}`").cast("double").alias("corr"),
                )
            )
    return wide.select(F.explode(F.array(*structs)).alias("c")).select("c.*")
