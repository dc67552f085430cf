"""M02 validation → declarative rule compiler.

The reference interprets a YAML rule config eagerly per rule
(reference m02_validation/validate_data.py:29-124): schema checks (expected
columns / dtypes), categorical set-membership, numeric ranges, null checks —
each producing violating rows and counts, folded into a pass/fail suite with a
distinct-row coverage %.

Spark design: rules compile to Column predicates; ALL rule-violation counts and
the distinct-violating-row count are computed in ONE aggregation pass (each
violation is a `sum(cast(pred as long))`, coverage is `sum(cast(any_pred))`) —
no per-rule scans, no shuffle (a global agg is map-side partial + 1-row merge).
Violating-row extrats are separate lazy DataFrames (only materialized if the
caller exports them).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from analyst_toolkit_spark.functions.stats import _nan_as_null


@dataclass
class ValidationConfig:
    """Mirrors the reference's YAML contract
    (reference config/validation_config_template.yaml:10-67)."""

    expected_columns: list[str] = field(default_factory=list)
    expected_types: dict[str, str] = field(default_factory=dict)  # col -> spark type name
    categorical_values: dict[str, list] = field(default_factory=dict)
    numeric_ranges: dict[str, dict] = field(default_factory=dict)  # col -> {min, max}
    non_null_columns: list[str] = field(default_factory=list)


def compile_rules(df: DataFrame, cfg: ValidationConfig) -> dict[str, Column]:
    """Rule name -> violation predicate (true = row violates).

    Null handling mirrors the reference: categorical and range rules skip nulls
    (`~isin(...) & notna()` — validate_data.py:29-31, :102); null-check rules
    flag them, and NaN in a float/double column, which pandas' ``isna`` reads
    as missing.
    """
    preds: dict[str, Column] = {}
    cols = set(df.columns)
    for col, allowed in cfg.categorical_values.items():
        if col in cols:
            preds[f"categorical:{col}"] = (~F.col(col).isin(list(allowed))) & F.col(col).isNotNull()
    for col, rng in cfg.numeric_ranges.items():
        if col not in cols:
            continue
        lo, hi = rng.get("min"), rng.get("max")
        if lo is not None and hi is not None:
            out_of_range = ~F.col(col).between(F.lit(lo), F.lit(hi))
        elif lo is not None:
            out_of_range = F.col(col) < F.lit(lo)
        elif hi is not None:
            out_of_range = F.col(col) > F.lit(hi)
        else:
            continue
        preds[f"range:{col}"] = out_of_range & F.col(col).isNotNull()
    for col in cfg.non_null_columns:
        if col in cols:
            preds[f"not_null:{col}"] = _nan_as_null(df, col).isNull()
    return preds


def schema_check(df: DataFrame, cfg: ValidationConfig) -> dict:
    """Driver-side column/type set compare (reference validate_data.py:55-65).
    No data scan — schema only."""
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    missing = [c for c in cfg.expected_columns if c not in actual]
    unexpected = [c for c in actual if cfg.expected_columns and c not in cfg.expected_columns]
    type_mismatches = {
        c: {"expected": t, "actual": actual[c]}
        for c, t in cfg.expected_types.items()
        if c in actual and actual[c] != t
    }
    return {
        "missing_columns": missing,
        "unexpected_columns": unexpected,
        "type_mismatches": type_mismatches,
        "passed": not missing and not type_mismatches,
    }


def validation_summary(df: DataFrame, cfg: ValidationConfig) -> DataFrame:
    """Per-rule violation counts + total rows + distinct-violating-row coverage,
    in ONE scan. Long output: rule, violations, rows, coverage_pct.

    Coverage is the reference's U2 semantics (validate_data.py:115-124): % of
    *distinct rows* failing at least one rule = sum(any-violation) / rows.
    """
    preds = compile_rules(df, cfg)
    aggs = [F.count(F.lit(1)).alias("__rows")]
    any_pred = F.lit(False)
    for name, p in preds.items():
        # coalesce: sum over an EMPTY frame is null, not 0
        aggs.append(F.coalesce(F.sum(p.cast("long")), F.lit(0)).alias(f"v::{name}"))
        any_pred = any_pred | F.coalesce(p, F.lit(False))
    aggs.append(F.coalesce(F.sum(any_pred.cast("long")), F.lit(0)).alias("__any"))
    wide = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(name).alias("rule"),
            F.col(f"`v::{name}`").cast("long").alias("violations"),
            F.col("__rows").cast("long").alias("rows"),
        )
        for name in preds
    ] + [
        F.struct(
            F.lit("__any_rule__").alias("rule"),
            F.col("__any").cast("long").alias("violations"),
            F.col("__rows").cast("long").alias("rows"),
        )
    ]
    return (
        wide.select(F.explode(F.array(*structs)).alias("s"))
        .select("s.*")
        .withColumn(
            "coverage_pct",
            F.when(F.col("rows") > 0, F.round(F.col("violations") * 100.0 / F.col("rows"), 6)).otherwise(0.0),
        )
    )


def violating_rows(df: DataFrame, cfg: ValidationConfig, rule: str | None = None) -> DataFrame:
    """Rows failing a named rule (or any rule). Lazy — filters push down to the
    scan; at 100 TB this exports only the violation set."""
    preds = compile_rules(df, cfg)
    if rule is not None:
        return df.filter(preds[rule])
    any_pred = F.lit(False)
    for p in preds.values():
        any_pred = any_pred | F.coalesce(p, F.lit(False))
    return df.filter(any_pred)


def run_validation(df: DataFrame, cfg: ValidationConfig, fail_on_error: bool = False) -> dict:
    """Suite runner (reference run_validation_pipeline.py:90-103): returns the
    structured result; raises when gatekeeping and any rule failed."""
    schema = schema_check(df, cfg)
    summary_rows = validation_summary(df, cfg).collect()
    failed_rules = [r["rule"] for r in summary_rows if r["rule"] != "__any_rule__" and r["violations"] > 0]
    result = {
        "schema": schema,
        "rules": {r["rule"]: r.asDict() for r in summary_rows},
        "failed_rules": failed_rules,
        "passed": schema["passed"] and not failed_rules,
    }
    if fail_on_error and not result["passed"]:
        raise ValueError(f"validation gate failed: schema={schema['passed']}, failed_rules={failed_rules}")
    return result
