"""Tool facade — the reference's MCP tool surface, Spark-backed.

The reference exposes each module as a JSON-RPC tool with in-memory session
state and a JSON-lines run-history ledger (mcp_server/registry.py,
mcp_server/tools/*, io.py append_to_run_history). The RPC/HTTP plumbing is
control-plane and engine-agnostic; what this module provides is the same
tool-call contract — ``call(name, session_id=..., config=...) → result dict``
— over the SessionStore + operator layer, so any server (FastAPI, MCP, a
notebook) can mount it.

Every call: resolve input (session or path) → run the module → upsert the
session → append a ledger record → return {status, module, summary,
next_actions}.
"""

from __future__ import annotations

import json
import os
import threading
import time
from typing import Any, Callable

import yaml

from pyspark.sql import DataFrame, SparkSession

from analyst_toolkit_spark import ingest
from analyst_toolkit_spark.jobs import JobStore, spawn_job
from analyst_toolkit_spark.functions.scoring import calculate_health_score, metrics_from_history
from analyst_toolkit_spark.operators import dictionary as M_dict
from analyst_toolkit_spark.operators import drift as M_drift
from analyst_toolkit_spark.operators import profile as M_prof
from analyst_toolkit_spark.plans import config as C
from analyst_toolkit_spark.plans.pipeline import auto_heal, run_pipeline
from analyst_toolkit_spark.sources import io as S_io
from analyst_toolkit_spark.state import SessionStore

_MODULE_TOOLS = (
    "diagnostics",
    "validation",
    "normalization",
    "duplicates",
    "outlier_detection",
    "outlier_handling",
    "imputation",
    "final_audit",
)

# reference tool-name aliases (mcp_server registry names)
_ALIASES = {
    "outliers": "outlier_detection",
    "get_run_history": "run_history",
    "get_data_health_report": "data_health",
    "get_capability_catalog": "capability_catalog",
    "get_cockpit_dashboard": "dashboard",
    "get_pipeline_dashboard": "dashboard",
}


class Toolkit:
    """One engine instance: SparkSession + SessionStore + ledger path."""

    def __init__(
        self,
        spark: SparkSession,
        ledger_path: str | None = None,
        job_state_path: str | None = None,
        **store_kwargs: Any,
    ):
        self.spark = spark
        self.store = SessionStore(spark, **store_kwargs)
        self.ledger_path = ledger_path
        self._history: list[dict] = []
        self._record_lock = threading.Lock()  # async job workers share the ledger
        self.jobs = JobStore(state_path=job_state_path)

    # -- plumbing -----------------------------------------------------------

    def _resolve_input(self, session_id: str | None, input_path: str | None, df: DataFrame | None) -> DataFrame:
        if df is not None:
            return df
        if session_id is not None:
            try:
                return self.store.get(session_id)
            except KeyError:
                if input_path is None:
                    raise
        if input_path is None:
            raise ValueError("provide df, session_id, or input_path")
        return S_io.load_any(self.spark, input_path)

    def _record(self, module: str, status: str, summary: dict) -> None:
        entry = {"ts": time.time(), "module": module, "status": status, "summary": summary}
        with self._record_lock:
            self._history.append(entry)
            if self.ledger_path:
                os.makedirs(os.path.dirname(self.ledger_path) or ".", exist_ok=True)
                with open(self.ledger_path, "a") as fh:
                    fh.write(json.dumps(entry, default=str) + "\n")

    @staticmethod
    def _coerce_config(config: Any) -> dict:
        """Agent failure-mode tolerance (reference io.py:73-124): accept dict,
        YAML string, or double-wrapped {'config': ...}."""
        if config is None:
            return {}
        if isinstance(config, str):
            config = yaml.safe_load(config) or {}
        if isinstance(config, dict) and set(config) == {"config"}:
            return Toolkit._coerce_config(config["config"])
        return config if isinstance(config, dict) else {}

    # -- tools --------------------------------------------------------------

    def call(self, name: str, **kwargs: Any) -> dict:
        name = _ALIASES.get(name, name)
        fn: Callable | None = getattr(self, f"tool_{name}", None)
        if fn is None and name in _MODULE_TOOLS:
            return self._module_tool(name, **kwargs)
        if fn is None:
            raise KeyError(f"unknown tool {name!r}; available: {self.list_tools()}")
        return fn(**kwargs)

    def list_tools(self) -> list[str]:
        extra = [m[5:] for m in dir(self) if m.startswith("tool_")]
        return sorted(set(_MODULE_TOOLS) | set(extra))

    def _module_tool(
        self,
        module: str,
        session_id: str | None = None,
        input_path: str | None = None,
        df: DataFrame | None = None,
        config: Any = None,
        run_id: str = "tool",
    ) -> dict:
        src = self._resolve_input(session_id, input_path, df)
        master = {
            "run_id": run_id,
            "modules": {module: {"run": True, "config": self._coerce_config(config)}},
        }
        if module == "outlier_handling":
            # the M05→M06 edge: handling alone implies detection first with
            # defaults so the flags exist (reference requires the results file)
            master["modules"] = {
                "outlier_detection": {
                    "run": True,
                    "config": {"outlier_detection": {"detection_specs": {"__default__": {"method": "iqr"}}}},
                },
                "outlier_handling": {"run": True, "config": self._coerce_config(config)},
            }
        run = run_pipeline(self.spark, C.pipeline_config(master), src)
        # with neither df nor input_path, src is the session's stored frame:
        # a module that returned it unchanged (diagnostics, flag-mode
        # duplicates) has nothing to save
        if session_id is not None and not (df is None and input_path is None and run.df is src):
            self.store.save(session_id, run.df)
        for h in run.history:
            self._record(h["module"], h["status"], h["summary"])
        last = run.history[-1] if run.history else {"status": "completed", "summary": {}}
        return {
            "status": "pass" if last["status"] == "completed" else "fail",
            "module": module,
            "session_id": session_id,
            "summary": last["summary"],
            "reports": {k: v for k, v in run.reports.items()},
        }

    def tool_infer_configs(self, session_id=None, input_path=None, df=None, modules=None, **kw) -> dict:
        from analyst_toolkit_spark.operators.infer import infer_configs

        src = self._resolve_input(session_id, input_path, df)
        configs = infer_configs(src, modules=modules, **kw)
        if session_id is not None:
            for mod, cfg in configs.items():
                try:
                    self.store.save_config(session_id, mod, cfg)
                except KeyError:
                    pass
        self._record("infer_configs", "completed", {"modules": sorted(configs)})
        return {"status": "pass", "module": "infer_configs", "configs": configs}

    def tool_auto_heal(
        self, session_id=None, input_path=None, df=None, run_id="auto_heal", async_mode: bool = False
    ) -> dict:
        """Infer configs then run the cleaning chain. ``async_mode=True``
        queues the heal as a background job (reference
        tools/auto_heal.py:366-436): the call returns ``{"status":
        "accepted", "job_id": ...}`` immediately; poll ``get_job_status``.
        The worker thread shares the SparkSession (Spark's scheduler
        interleaves its jobs with foreground calls) and tags them with the
        job id, so ``cancel_job`` can stop a long heal mid-flight."""
        src = self._resolve_input(session_id, input_path, df)  # resolve errors surface synchronously
        if async_mode:
            job_id = self.jobs.create(
                module="auto_heal",
                run_id=run_id,
                inputs={"session_id": session_id, "input_path": input_path, "run_id": run_id},
            )
            spawn_job(
                self.jobs,
                job_id,
                self.spark,
                lambda: self._auto_heal_sync(src, session_id, run_id),
                terminal_failure=lambda res: res.get("status") not in ("pass", "completed"),
            )
            return {
                "status": "accepted",
                "module": "auto_heal",
                "run_id": run_id,
                "job_id": job_id,
                "summary": {"state": "queued"},
                "message": "Auto-heal job accepted. Poll get_job_status(job_id).",
            }
        return self._auto_heal_sync(src, session_id, run_id)

    def _auto_heal_sync(self, src: DataFrame, session_id: str | None, run_id: str) -> dict:
        run = auto_heal(self.spark, src, run_id=run_id)
        if session_id is not None:
            self.store.save(session_id, run.df)
        for h in run.history:
            self._record(h["module"], h["status"], h["summary"])
        return {
            "status": "pass",
            "module": "auto_heal",
            "health": run.health,
            "inferred_configs": run.reports.get("inferred_configs", {}),
        }

    # -- async job surface (reference tools/jobs.py) ------------------------

    def tool_get_job_status(self, job_id: str, **kw) -> dict:
        job = self.jobs.get(job_id)
        if not job:
            return {
                "status": "error",
                "module": "job_status",
                "job_id": job_id,
                "message": f"Job not found: {job_id}",
            }
        return {"status": "pass", "module": "job_status", "job_id": job_id, "job": job}

    def tool_list_jobs(self, limit: int = 20, state: str | None = None, **kw) -> dict:
        jobs = self.jobs.list(limit=limit, state=state)
        return {
            "status": "pass",
            "module": "job_status",
            "summary": {"count": len(jobs), "limit": limit, "state": state or ""},
            "jobs": jobs,
        }

    def tool_cancel_job(self, job_id: str, **kw) -> dict:
        """Cancel a queued/running async job: marks it terminal, then cancels
        its Spark job group (``interruptOnCancel`` kills running tasks). A
        Spark-native extension over the reference surface — a 100 TB heal is
        hours of cluster time; being able to stop it matters."""
        job = self.jobs.get(job_id)
        if not job:
            return {"status": "error", "module": "job_status", "job_id": job_id, "message": f"Job not found: {job_id}"}
        if job.get("state") not in ("queued", "running"):
            return {
                "status": "error",
                "module": "job_status",
                "job_id": job_id,
                "message": f"Job already terminal: {job['state']}",
            }
        self.jobs.mark_cancelled(job_id)
        try:
            self.spark.sparkContext.cancelJobGroup(job_id)
        except Exception:
            pass
        return {"status": "pass", "module": "job_status", "job_id": job_id, "job": self.jobs.get(job_id)}

    def tool_drift_detection(self, base_df=None, target_df=None, threshold: float = 0.1, **kw) -> dict:
        if base_df is None or target_df is None:
            raise ValueError("drift_detection needs base_df and target_df")
        schema = M_drift.schema_drift(base_df, target_df)
        numeric = [r.asDict() for r in M_drift.numeric_drift(base_df, target_df, threshold).collect()]
        self._record("drift_detection", "completed", {"drifted": sum(1 for r in numeric if r["drifted"])})
        return {"status": "pass", "module": "drift_detection", "schema": schema, "numeric": numeric}

    def tool_data_dictionary(self, session_id=None, input_path=None, df=None, **kw) -> dict:
        src = self._resolve_input(session_id, input_path, df)
        rows = [r.asDict() for r in M_dict.data_dictionary(src, **kw).collect()]
        self._record("data_dictionary", "completed", {"columns": len(rows)})
        return {"status": "pass", "module": "data_dictionary", "columns": rows}

    def tool_data_health(self, **kw) -> dict:
        score = calculate_health_score(metrics_from_history(self._history))
        # the tool status reports the call; the health colour has its own key
        score["health_status"] = score.pop("status")
        return {"status": "pass", "module": "data_health", **score}

    def tool_run_history(self, limit: int = 50, **kw) -> dict:
        return {"status": "pass", "module": "run_history", "ledger": self._history[-limit:]}

    def tool_preflight_config(self, module: str, config: Any = None, **kw) -> dict:
        """Parse + validate a module config WITHOUT running it (reference
        preflight_config): reports whether it loads through the config plane
        and what it compiled to."""
        cfg = self._coerce_config(config)
        try:
            if module in ("validation", "validation_gatekeeper", "certification"):
                vcfg, fail = C.validation_config(cfg)
                compiled = {"rules": sum(map(len, [vcfg.categorical_values, vcfg.numeric_ranges])), "fail_on_error": fail}
            elif module == "normalization":
                n = C.normalization_rules(cfg)
                compiled = {"actions": sum(map(len, [n.rename_columns, n.standardize_text_columns, n.value_mappings, n.parse_datetimes, n.coerce_dtypes, n.fuzzy_matching]))}
            elif module == "duplicates":
                d = C.duplicates_config(cfg)
                compiled = {"subset": d.subset_columns, "keep": d.keep, "mode": d.mode}
            elif module in ("outliers", "outlier_detection"):
                compiled = {"specs": len(C.outlier_specs(cfg, ["__probe__"]))}
            elif module == "outlier_handling":
                compiled = {"strategies": len(C.handling_specs(cfg))}
            elif module == "imputation":
                compiled = {"strategies": len(C.impute_specs(cfg))}
            elif module == "final_audit":
                fa = C.final_audit_config(cfg)
                compiled = {"drops": len(fa.drop_columns), "casts": len(fa.coerce_dtypes)}
            else:
                return {"status": "fail", "module": module, "error": f"unknown module {module!r}"}
            return {"status": "pass", "module": module, "compiled": compiled}
        except Exception as ex:  # config errors are the expected failure mode here
            return {"status": "fail", "module": module, "error": str(ex)}

    def tool_capability_catalog(self, **kw) -> dict:
        """Static knob catalog (reference get_capability_catalog)."""
        return {
            "status": "pass",
            "module": "capability_catalog",
            "tools": self.list_tools(),
            "modules": {
                "validation": ["expected_columns", "expected_types", "categorical_values", "numeric_ranges", "disallowed_null_columns", "fail_on_error", "range_checks (shorthand)"],
                "normalization": ["rename_columns", "standardize_text_columns", "value_mappings", "fuzzy_matching", "parse_datetimes", "coerce_dtypes"],
                "duplicates": ["subset_columns", "keep", "mode"],
                "outlier_detection": ["detection_specs", "__default__", "exclude_columns", "method/columns (shorthand)"],
                "outlier_handling": ["handling_specs", "__default__", "__global__"],
                "imputation": ["rules.strategies: mean|median|mode|constant"],
                "final_audit": ["final_edits", "certification", "disallowed_null_columns"],
            },
        }

    def tool_manage_session(self, action: str, session_id: str | None = None, **kw) -> dict:
        """Session CRUD (reference manage_session): list | delete | info."""
        if action == "list":
            return {"status": "pass", "sessions": self.store.list_sessions()}
        if action == "delete" and session_id:
            self.store.delete(session_id)
            return {"status": "pass", "deleted": session_id}
        if action == "info" and session_id:
            df = self.store.get(session_id)
            return {"status": "pass", "session_id": session_id, "columns": df.columns}
        return {"status": "fail", "error": f"unsupported action {action!r}"}

    def tool_dashboard(self, **kw) -> dict:
        """Cockpit summary: health + latest status per module (reference
        get_cockpit_dashboard data payload)."""
        latest: dict[str, dict] = {}
        for e in self._history:
            latest[e["module"]] = {"status": e["status"], "summary": e["summary"]}
        score = calculate_health_score(metrics_from_history(self._history))
        return {"status": "pass", "module": "dashboard", "health": score, "latest_status_by_module": latest}

    def tool_export_visuals(
        self,
        output_path: str,
        session_id=None,
        input_path=None,
        df=None,
        numeric_columns: list[str] | None = None,
        categorical_columns: list[str] | None = None,
        title: str = "Visual Report",
        **kw,
    ) -> dict:
        """The m08 visual suite as one HTML artifact (reference
        run_visuals.py): missingness, dtype composition, correlation heatmap,
        per-numeric histogram + KDE + box, per-categorical top-N bars — every
        chart from a bounded aggregate pass."""
        from analyst_toolkit_spark.reporting import export_visual_report

        src = self._resolve_input(session_id, input_path, df)
        path = export_visual_report(
            src,
            output_path,
            numeric_columns=numeric_columns,
            categorical_columns=categorical_columns,
            title=title,
        )
        summary = {"path": path}
        self._record("export_visuals", "completed", summary)
        return {"status": "pass", "module": "export_visuals", **summary}

    def tool_export_dashboard(
        self,
        output_path: str,
        session_id=None,
        input_path=None,
        df=None,
        viz_columns: list[str] | None = None,
        compare_session_id=None,
        compare_input_path=None,
        compare_columns: list[str] | None = None,
        compare_categorical_columns: list[str] | None = None,
        title: str = "Toolkit Dashboard",
        **kw,
    ) -> dict:
        """Render this server's run history + health as a self-contained HTML
        dashboard (reference get_pipeline_dashboard artifact); with a session
        or path, also embeds histogram/box SVGs for the given columns (bounded
        aggregate passes — the renderer never sees the distributed table).

        ``compare_session_id``/``compare_input_path`` name a BEFORE frame; the
        main input is AFTER. ``compare_columns`` get shared-bin overlay
        histograms and ``compare_categorical_columns`` grouped count bars
        (reference comparison_plots.py surface)."""
        from types import SimpleNamespace

        from analyst_toolkit_spark.reporting import export_pipeline_dashboard

        src = None
        if df is not None or session_id is not None or input_path is not None:
            src = self._resolve_input(session_id, input_path, df)
        compare = compare_cat = None
        if (compare_session_id is not None or compare_input_path is not None) and src is not None:
            before = self._resolve_input(compare_session_id, compare_input_path, None)
            if compare_columns:
                compare = {c: (before, src) for c in compare_columns if c in src.columns}
            if compare_categorical_columns:
                compare_cat = {c: (before, src) for c in compare_categorical_columns if c in src.columns}
        run = SimpleNamespace(
            run_id=kw.get("run_id", "toolkit"),
            history=self._history,
            reports={},
            health=calculate_health_score(metrics_from_history(self._history)),
        )
        path = export_pipeline_dashboard(
            run, output_path, df=src, viz_columns=viz_columns, title=title,
            compare=compare, compare_categorical=compare_cat,
        )
        # S11 artifact plane: mirror the rendered artifact to the configured
        # report bucket (reference io_storage.py:280-329 upload path). No
        # bucket configured → local-only, same soft-fail contract.
        from analyst_toolkit_spark.sources.storage import ArtifactLedger, upload_artifact

        uri = upload_artifact(
            self.spark,
            path,
            run_id=run.run_id,
            module="export_dashboard",
            session_id=session_id,
            ledger=ArtifactLedger(self.ledger_path) if self.ledger_path else None,
        )
        summary = {"path": path, **({"artifact_uri": uri} if uri else {})}
        self._record("export_dashboard", "completed", summary)
        return {"status": "pass", "module": "export_dashboard", **summary}

    def tool_load_session(self, session_id: str, input_path: str, fmt: str | None = None, **kw) -> dict:
        df = S_io.load_any(self.spark, input_path, fmt=fmt)
        df = ingest.with_row_id(df)
        self.store.save(session_id, df, metadata={"source": input_path})
        n = df.count()
        self._record("load_session", "completed", {"session_id": session_id, "rows": n})
        return {"status": "pass", "module": "load_session", "session_id": session_id, "rows": n}
