"""Master pipeline runner — the reference CLI chain as one lazy Spark DAG.

Order and dataflow mirror run_toolkit_pipeline.py:67-186: diagnostics →
validation → normalization → validation-gatekeeper (fail_on_error) →
duplicates → outlier detection → outlier handling (consumes detection
results — the M05→M06 edge) → imputation → final audit. Each module emits a
JSON-able summary into the run history, which folds into the 0-100 health
score (functions/scoring.py).

Scale notes: modules are lazy transformations on one DataFrame; only summary
aggregations materialize (each a single map-side-partial agg). Each summary
runs where its module runs, on the caller's thread, so every Spark job of a
run carries the caller's job group and local properties (``cancelJobGroup``
stops the whole run). Quantile statistics pick their execution tier in one
place (``functions.stats.quantile_stats``). With ``checkpoint_dir`` set,
normalization, duplicate removal and outlier handling each end in a durable
parquet lineage cut (``sources.io.cut``), which keeps a long chain's plan
short.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from analyst_toolkit_spark import ingest
from analyst_toolkit_spark.functions.scoring import calculate_health_score, metrics_from_history
from analyst_toolkit_spark.functions.stats import any_horizontal
from analyst_toolkit_spark.operators import duplicates as M_dup
from analyst_toolkit_spark.operators import final_audit as M_fa
from analyst_toolkit_spark.operators import impute as M_imp
from analyst_toolkit_spark.operators import normalize as M_norm
from analyst_toolkit_spark.operators import outliers as M_out
from analyst_toolkit_spark.operators import profile as M_prof
from analyst_toolkit_spark.operators import validation as M_val
from analyst_toolkit_spark.plans import config as C
from analyst_toolkit_spark.sources import io as S_io

# strptime directive -> Spark datetime pattern (accepts pandas-style configs)
_STRPTIME = {
    "%Y": "yyyy", "%y": "yy", "%m": "MM", "%d": "dd", "%H": "HH", "%I": "hh",
    "%M": "mm", "%S": "ss", "%f": "SSSSSS", "%b": "MMM", "%B": "MMMM",
    "%j": "DDD", "%p": "a", "%z": "xx", "%%": "%",
}


def strptime_to_spark(fmt: str) -> str:
    out, i = [], 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            tok = fmt[i : i + 2]
            out.append(_STRPTIME.get(tok, tok))
            i += 2
        else:
            # literal chars that are pattern letters in Spark need quoting
            out.append(f"'{fmt[i]}'" if fmt[i].isalpha() else fmt[i])
            i += 1
    return "".join(out)


@dataclass
class PipelineRun:
    run_id: str
    df: DataFrame
    history: list[dict] = field(default_factory=list)
    reports: dict[str, Any] = field(default_factory=dict)
    health: dict = field(default_factory=dict)


def _record(run: PipelineRun, module: str, summary: dict, status: str = "completed") -> None:
    run.history.append({"module": module, "status": status, "summary": summary})


def run_pipeline(spark: SparkSession, cfg: C.PipelineConfig, df: DataFrame | None = None) -> PipelineRun:
    if df is None:
        path = cfg.pipeline_entry_path
        if path is None:
            raise ValueError("no input DataFrame and no pipeline_entry_path")
        df = S_io.load_any(spark, path)
    df = ingest.with_row_id(df)

    run = PipelineRun(run_id=cfg.run_id, df=df)

    # M01 diagnostics — profile; null_rate = mean of per-column null fractions
    # (the reference's df.isnull().mean().mean(), SURVEY A3)
    if cfg.enabled("diagnostics"):
        prof_rows = M_prof.profile(df.drop(ingest.ROW_ID)).collect()
        null_rate = sum(r["null_pct"] for r in prof_rows) / len(prof_rows) if prof_rows else 0.0
        row_count = prof_rows[0]["count"] if prof_rows else 0
        run.reports["diagnostics"] = prof_rows
        _record(run, "diagnostics", {"null_rate": null_rate, "row_count": row_count})

    # M02 validation (audit mode)
    if cfg.enabled("validation"):
        vcfg, fail = C.validation_config(cfg.module_config("validation"))
        res = M_val.run_validation(df, vcfg, fail_on_error=fail)
        run.reports["validation"] = res
        _record(run, "validation", {"passed": res["passed"], "failed_rules": res["failed_rules"]})

    # M03 normalization
    if cfg.enabled("normalization"):
        rules = C.normalization_rules(cfg.module_config("normalization"))
        changelog: dict[str, Any] = {}
        if rules.rename_columns:
            df = M_norm.rename_columns(df, rules.rename_columns)
        if rules.standardize_text_columns:
            df = M_norm.standardize_text(df, [c for c in rules.standardize_text_columns if c in df.columns])
        for col, mapping in rules.value_mappings.items():
            if col in df.columns:
                df = M_norm.remap_values(df, col, mapping)
        for col, s in rules.fuzzy_matching.items():
            if col in df.columns:
                df, corr = M_norm.apply_fuzzy_correction(
                    df, col, list(s.get("master_list", [])), float(s.get("score_cutoff", 80))
                )
                changelog[f"fuzzy:{col}"] = corr
        for col, s in rules.parse_datetimes.items():
            if col not in df.columns:
                continue
            fmts = s.get("formats") or ([s["format"]] if s.get("format") else None)
            if fmts:
                fmts = [strptime_to_spark(f) if "%" in f else f for f in fmts]
            df, nat_added = M_norm.parse_datetime(
                df, col, formats=fmts, errors=s.get("errors", "coerce"), make_naive=bool(s.get("make_naive"))
            )
            changelog[f"datetime:{col}"] = {"nat_added": nat_added}
        for col, t in rules.coerce_dtypes.items():
            if col in df.columns:
                df, info = M_norm.coerce_numeric(df, col, t)
                changelog[f"coerce:{col}"] = info
        if cfg.checkpoint_dir:
            df = S_io.cut(df, durable_dir=cfg.checkpoint_dir, name=f"{cfg.run_id}_normalization.parquet")
        run.reports["normalization"] = changelog
        _record(run, "normalization", {"actions": len(changelog)})

    # gatekeeper re-validation — raises on failure (run_validation_pipeline.py:90-103)
    if cfg.enabled("validation_gatekeeper"):
        vcfg, fail = C.validation_config(cfg.module_config("validation_gatekeeper"))
        res = M_val.run_validation(df, vcfg, fail_on_error=True if fail is False else fail)
        run.reports["validation_gatekeeper"] = res
        _record(run, "validation", {"passed": res["passed"], "failed_rules": res["failed_rules"]})

    # M04 duplicates
    if cfg.enabled("duplicates"):
        dcfg = C.duplicates_config(cfg.module_config("duplicates"))
        flagged = M_dup.flag_duplicates(df, dcfg.subset_columns, keep=dcfg.keep if dcfg.mode == "remove" else False)
        counts = flagged.agg(
            F.sum(F.col("is_duplicate").cast("long")).alias("dups"), F.count(F.lit(1)).alias("rows")
        ).first()
        _record(
            run,
            "duplicates",
            {"duplicate_count": int(counts["dups"] or 0), "row_count": int(counts["rows"]), "mode": dcfg.mode},
        )
        if dcfg.mode == "remove":
            df = M_dup.drop_duplicates_keep_order(df, dcfg.subset_columns, keep=dcfg.keep)
            if cfg.checkpoint_dir:
                df = S_io.cut(df, durable_dir=cfg.checkpoint_dir, name=f"{cfg.run_id}_duplicates.parquet")

    # M05 outlier detection
    detection_results: dict = {}
    if cfg.enabled("outlier_detection"):
        numeric = [c for c in M_prof.numeric_columns(df) if c != ingest.ROW_ID]
        specs = C.outlier_specs(cfg.module_config("outlier_detection"), numeric)
        if specs:
            df, detection_results = M_out.detect_outliers(df, specs)
            flag_cols = [v["flag_col"] for v in detection_results.values()]
            counts = df.agg(
                F.sum(any_horizontal([F.col(c) for c in flag_cols]).cast("long")).alias("n"),
                F.count(F.lit(1)).alias("rows"),
            ).first()
            _record(
                run,
                "outliers",
                {"outlier_count": int(counts["n"] or 0), "row_count": int(counts["rows"]), "columns": list(detection_results)},
            )

    # M06 outlier handling — consumes M05 results (per-column strategies)
    if cfg.enabled("outlier_handling") and detection_results:
        specs = C.handling_specs(cfg.module_config("outlier_handling"))
        default = specs.get("__default__", specs.get("__global__", {"strategy": "none"}))
        applied = {
            col: (specs.get(col, default) or {}).get("strategy", "none")
            for col in detection_results
        }
        df = M_out.handle_outliers_per_column(df, detection_results, specs)
        if cfg.checkpoint_dir:
            df = S_io.cut(df, durable_dir=cfg.checkpoint_dir, name=f"{cfg.run_id}_outlier_handling.parquet")
        _record(run, "outlier_handling", {"strategies": applied})

    # M07 imputation
    if cfg.enabled("imputation"):
        specs = [s for s in C.impute_specs(cfg.module_config("imputation")) if s.column in df.columns]
        df, fills = M_imp.impute(df, specs)
        run.reports["imputation"] = fills
        _record(run, "imputation", {"filled_columns": sorted(fills)})

    # M10 final audit
    if cfg.enabled("final_audit"):
        facfg = C.final_audit_config(cfg.module_config("final_audit"))
        df, res = M_fa.run_final_audit(df, facfg)
        run.reports["final_audit"] = res
        _record(
            run, "final_audit", {"certified": res["certified"]},
            status="completed" if res["certified"] else "failed",
        )

    run.df = df
    # resolve lazy observe-backed counters (parse_datetime NaT accounting)
    # now — by this point the later modules' actions have usually fired the
    # observation, so resolution is free; keeps reports plain JSON-able ints
    norm_log = run.reports.get("normalization") or {}
    for entry in norm_log.values():
        if isinstance(entry, dict) and "nat_added" in entry:
            entry["nat_added"] = int(entry["nat_added"])
    run.health = calculate_health_score(metrics_from_history(run.history))
    return run


def auto_heal(spark: SparkSession, df: DataFrame, run_id: str = "auto_heal") -> PipelineRun:
    """Autonomous heal chain (reference mcp_server/tools/auto_heal.py:64-325):
    infer configs for normalization + imputation, then run those two modules
    over the inferred YAML. The inferred configs ride through the same config
    plane a user-authored YAML would."""
    import yaml as _yaml

    from analyst_toolkit_spark.operators.infer import infer_configs

    configs = infer_configs(df, modules=["normalization", "imputation"])
    master = {
        "run_id": run_id,
        "modules": {
            name: {"run": True, "config": _yaml.safe_load(configs[name])}
            for name in ("normalization", "imputation")
            if name in configs
        },
    }
    run = run_pipeline(spark, C.pipeline_config(master), df)
    run.reports["inferred_configs"] = configs
    return run
