"""M01 diagnostics → single-pass distributed profiler.

The reference computes nulls, nunique, describe(), skew, kurt, duplicate counts
with ~a dozen separate eager pandas calls over the whole table
(reference m01_diagnostics/data_diag.py:46-113). A naive translation would be a
dozen full scans of 100 TB. Here every requested metric compiles into ONE
``df.agg(...)`` pass (all metrics for all columns are independent aggregate
expressions, fused by whole-stage codegen into a single scan), plus one
optional groupBy-all-columns pass for the duplicate-row count.

Output is a *long* profile table (one row per column) — small, deterministic,
oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from analyst_toolkit_spark.functions.stats import (
    kurtosis_g2,
    percentile_exact,
    quantile_stats,
    skewness_g1,
)

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


def profile(
    df: DataFrame,
    columns: list[str] | None = None,
    exact: bool = True,
    approx_rsd: float = 0.05,
) -> DataFrame:
    """Single-pass column profile.

    Per column: row count, non-null count, null count, null %, distinct count;
    numerics additionally get mean, stddev (ddof=1), min, max, q25/q50/q75
    (exact linear interpolation), bias-corrected skewness and kurtosis —
    pandas/DuckDB parity (see functions/stats.py).

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
        # semantics. None above the size gate or when the row cap trips.
        out = _profile_driver(df, cols, num)
        if out is not None:
            return out
    # Quartiles come from quantile_stats: aggregate Columns that join the
    # fused agg below, or (above the refine threshold) values from the
    # bounded-memory refine path that re-enter the agg as literals.
    qstats = quantile_stats(df, {c: [0.25, 0.5, 0.75] for c in cols if c in num}, exact)
    aggs: list = [F.count(F.lit(1)).alias("__rows")]
    for k, v in qstats.items():
        aggs.append((v if isinstance(v, Column) else F.array(*[F.lit(x).cast("double") for x in v])).alias(k))
    # Exact distinct counts go in a SEPARATE aggregation: mixing countDistinct
    # with TypedImperative aggs (percentile) triggers Catalyst's EXPAND
    # rewrite, which multiplies every input row per distinct column and makes
    # the percentile buffers chew N× the data (measured 13 s vs 3 s on a
    # 6-column table). approx_count_distinct is a sketch — no EXPAND — so the
    # approx path stays single-pass.
    dist_aggs: list = []
    for c in cols:
        col = F.col(c)
        aggs.append(F.count(col).alias(f"{c}__count"))
        if exact:
            dist_aggs.append(F.countDistinct(col).alias(f"{c}__nunique"))
        else:
            aggs.append(F.approx_count_distinct(col, approx_rsd).alias(f"{c}__nunique"))
        if c in num:
            aggs += [
                F.avg(col).alias(f"{c}__mean"),
                F.stddev_samp(col).alias(f"{c}__std"),
                F.min(col).cast("double").alias(f"{c}__min"),
                F.max(col).cast("double").alias(f"{c}__max"),
                skewness_g1(col).alias(f"{c}__skew"),
                kurtosis_g2(col).alias(f"{c}__kurt"),
            ]

    wide = df.agg(*aggs)
    if dist_aggs:
        wide = wide.crossJoin(df.agg(*dist_aggs))  # 1-row × 1-row join

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


def _profile_driver(df: DataFrame, cols: list[str], num: set[str]) -> DataFrame | None:
    """profile()'s small-input execution shape: one bounded Arrow collect,
    every metric via pandas/numpy (identical formulas: linear-interpolation
    quantiles, ddof=1 stddev, pandas G1/G2 skew/kurt — see functions/stats),
    result re-entered as a local DataFrame with the standard profile schema.
    Returns None if the row cap tripped (caller falls back to distributed)."""
    import math

    import numpy as np

    from analyst_toolkit_spark.functions.stats import collect_driver_bounded

    pdf = collect_driver_bounded(df, cols)
    if pdf is None:
        return None
    rows_total = len(pdf)

    def _f(x) -> float | None:
        x = float(x)
        return None if math.isnan(x) else x

    out_rows = []
    for c in cols:
        series = pdf[c].dropna()
        n = int(len(series))
        base = {
            "column": c,
            "count": rows_total,
            "nulls": rows_total - n,
            "null_pct": (rows_total - n) / rows_total if rows_total else None,
            "n_unique": int(series.nunique()),
        }
        stats = dict.fromkeys(
            ("mean", "stddev", "min", "max", "q25", "q50", "q75", "skewness", "kurtosis")
        )
        if c in num and n > 0:
            vals = series.to_numpy(dtype=float)
            qs = np.quantile(vals, [0.25, 0.5, 0.75])
            stats.update(
                mean=_f(vals.mean()),
                stddev=_f(np.std(vals, ddof=1)) if n > 1 else None,
                min=_f(vals.min()),
                max=_f(vals.max()),
                q25=_f(qs[0]),
                q50=_f(qs[1]),
                q75=_f(qs[2]),
                skewness=_f(series.astype(float).skew()) if n >= 3 else None,
                kurtosis=_f(series.astype(float).kurt()) if n >= 4 else None,
            )
        out_rows.append({**base, **stats})
    return df.sparkSession.createDataFrame(out_rows, _PROFILE_SCHEMA)


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
