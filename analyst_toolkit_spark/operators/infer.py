"""infer_configs — profile a table and emit ready-to-run module YAML contracts.

The reference exposes this as an MCP compound tool
(mcp_server/tools/infer_configs.py:55-93 — documented knobs: ``max_unique`` 30,
``exclude_patterns`` 'id|uuid|tag', ``detect_datetimes``, ``sample_rows``; the
concrete generator ships in an external deploy package, so the heuristics here
are designed fresh against the module config template shapes the output must
load into (config/*.yaml, plans/config.py parsers).

Spark design: one ``operators.profile.column_stats`` call (counts, distinct
counts and numeric min/max; NaN is missing) plus the example-value job for
categorical domains over a (sampled) DataFrame; all heuristics are
driver-side over those small results.
"""

from __future__ import annotations

import re

import yaml

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from analyst_toolkit_spark.ingest import ROW_ID
from analyst_toolkit_spark.operators.dictionary import example_values
from analyst_toolkit_spark.operators.profile import column_stats

_SPARK_TO_PANDAS = {
    "string": "object",
    "double": "float64",
    "float": "float64",
    "bigint": "int64",
    "int": "int64",
    "smallint": "int64",
    "tinyint": "int64",
    "boolean": "bool",
    "timestamp": "datetime64[ns]",
    "timestamp_ntz": "datetime64[ns]",
    "date": "datetime64[ns]",
}

_NUMERIC = {"tinyint", "smallint", "int", "bigint", "float", "double"}

MODULES = ("validation", "normalization", "duplicates", "outliers", "imputation", "final_audit")


def infer_configs(
    df: DataFrame,
    modules: list[str] | None = None,
    sample_rows: int | None = None,
    max_unique: int = 30,
    exclude_patterns: str = "id|uuid|tag",
    detect_datetimes: bool = True,
) -> dict[str, str]:
    """Return {module_name: yaml_string}; each YAML loads through
    plans/config.py into runnable specs."""
    wanted = [m for m in (modules or MODULES) if m in MODULES]
    if sample_rows:
        df = df.limit(sample_rows)
    df = df.drop(ROW_ID) if ROW_ID in df.columns else df

    stats = {s["column"]: s for s in column_stats(df)}
    dtypes = dict(df.dtypes)
    id_re = re.compile(exclude_patterns, re.IGNORECASE)
    id_like = [c for c in df.columns if id_re.search(c)]
    numeric_cols = [c for c in df.columns if dtypes[c] in _NUMERIC]
    string_cols = [c for c in df.columns if dtypes[c] == "string"]
    categorical_cols = [
        c
        for c in string_cols
        if c not in id_like and 0 < stats[c]["n_unique"] <= max_unique
    ]

    domains = example_values(df, categorical_cols, limit=max_unique) if categorical_cols else {}

    datetime_like = []
    if detect_datetimes:
        candidates = [
            c for c in string_cols if "date" in c.lower() or "time" in c.lower()
        ]
        if candidates:
            aggs = [
                F.sum(
                    (F.col(c).isNotNull() & F.expr(f"try_to_timestamp({c})").isNull()).cast("long")
                ).alias(c)
                for c in candidates
            ]
            row = df.agg(*aggs).first()
            datetime_like = [
                c for c in candidates if (row[c] or 0) == 0 and stats[c]["nulls"] < stats[c]["count"]
            ]

    configs: dict[str, str] = {}

    if "validation" in wanted:
        rules: dict = {
            "expected_columns": list(df.columns),
            "expected_types": {c: _SPARK_TO_PANDAS.get(dtypes[c], dtypes[c]) for c in df.columns},
        }
        if domains:
            rules["categorical_values"] = {c: sorted(domains[c]) for c in categorical_cols if domains.get(c)}
        ranges = {
            c: {"min": stats[c]["min"], "max": stats[c]["max"]}
            for c in numeric_cols
            if c not in id_like and stats[c]["min"] is not None
        }
        if ranges:
            rules["numeric_ranges"] = ranges
        configs["validation"] = yaml.safe_dump(
            {"validation": {"schema_validation": {"run": True, "fail_on_error": False, "rules": rules}}},
            sort_keys=False,
        )

    if "normalization" in wanted:
        n_rules: dict = {}
        if categorical_cols:
            n_rules["standardize_text_columns"] = categorical_cols
        if datetime_like:
            n_rules["parse_datetimes"] = {
                c: {"errors": "coerce", "make_naive": True} for c in datetime_like
            }
        configs["normalization"] = yaml.safe_dump(
            {"normalization": {"run": True, "rules": n_rules}}, sort_keys=False
        )

    if "duplicates" in wanted:
        subset = id_like or list(df.columns)
        configs["duplicates"] = yaml.safe_dump(
            {"duplicates": {"run": True, "subset_columns": subset, "keep": "first", "mode": "flag"}},
            sort_keys=False,
        )

    if "outliers" in wanted:
        configs["outliers"] = yaml.safe_dump(
            {
                "outlier_detection": {
                    "run": True,
                    "detection_specs": {"__default__": {"method": "iqr", "iqr_multiplier": 1.5}},
                    "exclude_columns": id_like,
                }
            },
            sort_keys=False,
        )

    if "imputation" in wanted:
        strategies: dict = {}
        for c in df.columns:
            if stats[c]["nulls"] == 0 or c in id_like:
                continue
            t = dtypes[c]
            if t in ("double", "float"):
                strategies[c] = "mean"
            elif t in _NUMERIC:
                strategies[c] = "median"
            elif c in categorical_cols:
                strategies[c] = "mode"
            elif t == "string":
                strategies[c] = {"strategy": "constant", "value": "UNKNOWN"}
        configs["imputation"] = yaml.safe_dump(
            {"imputation": {"run": True, "rules": {"strategies": strategies}}}, sort_keys=False
        )

    if "final_audit" in wanted:
        no_null_cols = [c for c in df.columns if stats[c]["nulls"] == 0]
        configs["final_audit"] = yaml.safe_dump(
            {
                "final_audit": {
                    "certification": {
                        "schema_validation": {
                            "rules": {
                                "expected_columns": list(df.columns),
                                "disallowed_null_columns": no_null_cols,
                            }
                        }
                    }
                }
            },
            sort_keys=False,
        )

    return configs
