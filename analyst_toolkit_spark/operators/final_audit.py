"""M10 final audit → final edits + strict certification + null audit.

Reference semantics (m10_final_audit/final_audit_producer.py:28-127,
final_audit_pipeline.py:44-105):

- final edits: drop existing columns, rename, strict dtype coercion where a
  failing column is LEFT UNTOUCHED and logged (pandas ``astype`` raises →
  column unchanged; Spark ``cast`` silently nulls, so we validate-then-cast).
- certification: the M02 validation suite re-run with the strict config.
- null audit: per-required-column null counts; passed when all zero.
- certified = all certification checks passed AND null audit passed.

Scale notes: every coercion check and the whole null audit are single global
aggregations (map-side partial, 1-row merge — no shuffle of data rows). The
coercion pre-check covers ALL requested columns in ONE pass, then the casts
apply only to columns that fully convert (all-or-nothing, F6).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from analyst_toolkit_spark.functions.stats import _nan_as_null
from analyst_toolkit_spark.operators.validation import ValidationConfig, run_validation
from analyst_toolkit_spark.sources.io import local_frame


@dataclass
class FinalAuditConfig:
    drop_columns: list[str] = field(default_factory=list)
    rename_columns: dict[str, str] = field(default_factory=dict)
    coerce_dtypes: dict[str, str] = field(default_factory=dict)  # col -> spark type name
    certification: ValidationConfig = field(default_factory=ValidationConfig)
    disallowed_null_columns: list[str] = field(default_factory=list)


def apply_final_edits(df: DataFrame, cfg: FinalAuditConfig) -> tuple[DataFrame, list[dict]]:
    """Drop / rename / strict-coerce. Returns (df, changelog-of-actions)."""
    changelog: list[dict] = []

    existing = [c for c in cfg.drop_columns if c in df.columns]
    if existing:
        df = df.drop(*existing)
        changelog.append({"action": "drop_columns", "details": f"Removed: {existing}"})

    if cfg.rename_columns:
        present = {k: v for k, v in cfg.rename_columns.items() if k in df.columns}
        df = df.withColumnsRenamed(present)
        changelog.append({"action": "rename_columns", "details": f"Renamed {len(present)} columns"})

    if cfg.coerce_dtypes:
        df, coerced, failed = strict_cast(df, cfg.coerce_dtypes)
        if coerced:
            changelog.append({"action": "coerce_dtypes", "details": f"Changed types for {len(coerced)} columns"})
        if failed:
            changelog.append({"action": "coerce_dtypes_failed", "details": "; ".join(failed)})

    return df, changelog


def strict_cast(df: DataFrame, dtype_map: dict[str, str]) -> tuple[DataFrame, list[str], list[str]]:
    """All-or-nothing cast for every column in one validation scan (F6).

    pandas ``astype`` raises on any unconvertible value → whole column stays;
    Spark ``cast`` silently produces null. We count would-be-nulled cells per
    column in ONE agg, then cast only clean columns.
    """
    cols = set(df.columns)
    present = {c: t for c, t in dtype_map.items() if c in cols}
    failed = [f"{c} (missing)" for c in dtype_map if c not in cols]
    to_check = {
        c: t for c, t in present.items()
        if dict(df.dtypes).get(c) != t
    }
    if to_check:
        # try_cast: ANSI-safe probe — malformed values become null, counted here
        aggs = [
            F.sum((F.col(c).isNotNull() & F.col(c).try_cast(t).isNull()).cast("long")).alias(c)
            for c, t in to_check.items()
        ]
        bad_counts = df.agg(*aggs).first().asDict()
    else:
        bad_counts = {}

    coerced: list[str] = []
    casts = {}
    for c, t in present.items():
        if bad_counts.get(c, 0):
            failed.append(f"{c} ({t}): {bad_counts[c]} unconvertible values")
        else:
            casts[c] = F.col(c).try_cast(t)
            coerced.append(c)
    if casts:
        df = df.withColumns(casts)
    return df, coerced, failed


def null_audit(df: DataFrame, disallowed_columns: list[str]) -> DataFrame:
    """Per-column null counts for required columns, ONE agg pass (A19);
    NaN in a float/double column counts as null, as pandas' ``isna`` does.
    Output: column, null_count (all listed columns, zero rows included)."""
    cols = [c for c in disallowed_columns if c in df.columns]
    if not cols:
        return local_frame(df.sparkSession, [], "column string, null_count long")
    # coalesce: sum over an EMPTY frame is null, not 0
    wide = df.agg(*[F.coalesce(F.sum(_nan_as_null(df, c).isNull().cast("long")), F.lit(0)).alias(c) for c in cols])
    structs = [
        F.struct(F.lit(c).alias("column"), F.col(c).cast("long").alias("null_count")) for c in cols
    ]
    return wide.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def run_final_audit(df: DataFrame, cfg: FinalAuditConfig, fail_on_error: bool = False) -> tuple[DataFrame, dict]:
    """Producer: edits → strict validation → null audit → certification verdict."""
    df_edited, edits_log = apply_final_edits(df, cfg)
    cert = run_validation(df_edited, cfg.certification)
    audit_rows = null_audit(df_edited, cfg.disallowed_null_columns).collect()
    null_failures = {r["column"]: r["null_count"] for r in audit_rows if r["null_count"] > 0}
    results = {
        "final_edits_log": edits_log,
        "certification_results": cert,
        "null_audit_results": {"passed": not null_failures, "failures": null_failures},
        "certified": cert["passed"] and not null_failures,
    }
    if fail_on_error and not results["certified"]:
        raise ValueError(
            f"final audit certification failed: rules={cert['failed_rules']}, nulls={null_failures}"
        )
    return df_edited, results
