"""Async job surface for long-running tools (auto_heal on big tables).

Reference semantics (mcp_server/job_state.py:41-228, tools/jobs.py,
tools/auto_heal.py:328-436): an in-memory, thread-safe job registry with
best-effort JSON persistence; jobs move queued → running → succeeded|failed;
terminal jobs are pruned by TTL and a max-jobs cap; ``auto_heal`` accepts
``async_mode=True`` and returns ``{"status": "accepted", "job_id": ...}`` for
polling via ``get_job_status`` / ``list_jobs``.

Spark-first notes:
- The worker runs on a plain daemon thread over the SAME SparkSession —
  Spark's scheduler is thread-safe and interleaves concurrent jobs, so a
  background heal shares the executors with foreground tool calls (FAIR
  scheduling pools apply if configured).
- Each worker tags its Spark jobs with ``setJobGroup(job_id)``; that makes a
  running heal *cancellable* (``cancel_job`` → ``sc.cancelJobGroup``) — the
  piece a 100 TB heal actually needs that a single-frame pandas tool never
  did. Cancellation is an extension over the reference surface (the
  reference thread just runs to completion).

Env knobs mirror the reference: $ANALYST_MCP_MAX_JOBS (default 512),
$ANALYST_MCP_JOB_TTL_SEC (default 86400), $ANALYST_MCP_JOB_STATE_PATH
(default: no persistence here — the store is per-Toolkit; pass a path to
persist across restarts). A restarted store loads every job the previous
process left queued or running as ``failed`` with an ``Interrupted`` error:
no thread runs it any more.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from typing import Any, Callable

_TERMINAL = frozenset({"succeeded", "failed", "cancelled"})


def _env_pos(name: str, default: float) -> float:
    try:
        v = float(os.environ.get(name, ""))
        return v if v > 0 else default
    except ValueError:
        return default


class JobStore:
    """Thread-safe job registry with optional JSON persistence.

    Instance-based (one per Toolkit) rather than the reference's
    process-global classmethods — a Spark server can host several toolkits
    and tests need isolation; the wire shapes are identical.
    """

    def __init__(self, state_path: str | None = None, max_jobs: int | None = None, ttl_sec: float | None = None):
        self._lock = threading.Lock()
        self._jobs: dict[str, dict[str, Any]] = {}
        self._state_path = state_path if state_path is not None else os.environ.get(
            "ANALYST_MCP_JOB_STATE_PATH", ""
        ).strip() or None
        self._max_jobs = int(max_jobs if max_jobs is not None else _env_pos("ANALYST_MCP_MAX_JOBS", 512))
        self._ttl_sec = float(ttl_sec if ttl_sec is not None else _env_pos("ANALYST_MCP_JOB_TTL_SEC", 86400.0))
        self._load()

    # -- persistence (best-effort; never crashes a tool call) ---------------

    def _load(self) -> None:
        if not self._state_path or not os.path.exists(self._state_path):
            return
        try:
            with open(self._state_path) as fh:
                loaded = json.load(fh)
            if isinstance(loaded, dict):
                self._jobs = loaded
        except Exception:
            self._jobs = {}
        # no thread of this process runs a job a previous process left queued
        # or running: end it, or it would read as live forever
        now = time.time()
        interrupted = [job for job in self._jobs.values() if job.get("state") not in _TERMINAL]
        for job in interrupted:
            job.update(
                state="failed",
                updated_at=now,
                finished_at=now,
                error={"error_type": "Interrupted", "message": "the server restarted before the job finished"},
            )
        if interrupted:
            self._persist_unsafe()

    def _persist_unsafe(self) -> None:
        if not self._state_path:
            return
        try:
            os.makedirs(os.path.dirname(self._state_path) or ".", exist_ok=True)
            tmp = self._state_path + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(json.loads(json.dumps(self._jobs, default=str)), fh, indent=2)
            os.replace(tmp, self._state_path)
        except Exception:
            pass

    def _prune_unsafe(self, now: float) -> None:
        if self._ttl_sec > 0:
            for job_id in [
                j
                for j, job in self._jobs.items()
                if job.get("state") in _TERMINAL
                and (job.get("finished_at") or job.get("updated_at") or 0)
                and now - float(job.get("finished_at") or job.get("updated_at")) > self._ttl_sec
            ]:
                self._jobs.pop(job_id, None)
        terminal = [(j, job) for j, job in self._jobs.items() if job.get("state") in _TERMINAL]
        overflow = len(terminal) - self._max_jobs
        if overflow > 0:
            oldest = sorted(terminal, key=lambda it: float(it[1].get("finished_at") or it[1].get("updated_at") or 0))
            for job_id, _ in oldest[:overflow]:
                self._jobs.pop(job_id, None)

    # -- lifecycle ----------------------------------------------------------

    def create(self, module: str, run_id: str | None = None, inputs: dict | None = None) -> str:
        now = time.time()
        job_id = f"job_{uuid.uuid4().hex[:12]}"
        with self._lock:
            self._prune_unsafe(now)
            self._jobs[job_id] = {
                "job_id": job_id,
                "module": module,
                "run_id": run_id,
                "state": "queued",
                "created_at": now,
                "updated_at": now,
                "started_at": None,
                "finished_at": None,
                "inputs": json.loads(json.dumps(inputs or {}, default=str)),
                "result": None,
                "error": None,
            }
            self._persist_unsafe()
        return job_id

    def _transition(self, job_id: str, state: str, **fields: Any) -> None:
        now = time.time()
        with self._lock:
            job = self._jobs.get(job_id)
            if not job:
                return
            # first terminal state wins: a worker completing AFTER a cancel
            # must not flip cancelled → succeeded
            if job.get("state") in _TERMINAL:
                return
            job["state"] = state
            job["updated_at"] = now
            if state == "running":
                job["started_at"] = now
            if state in _TERMINAL:
                job["finished_at"] = now
            for k, v in fields.items():
                job[k] = json.loads(json.dumps(v, default=str)) if isinstance(v, (dict, list)) else v
            self._prune_unsafe(now)
            self._persist_unsafe()

    def mark_running(self, job_id: str) -> None:
        self._transition(job_id, "running")

    def mark_succeeded(self, job_id: str, result: dict | None = None) -> None:
        self._transition(job_id, "succeeded", result=result or {}, error=None)

    def mark_failed(self, job_id: str, error: dict) -> None:
        self._transition(job_id, "failed", error=error)

    def mark_cancelled(self, job_id: str) -> None:
        self._transition(job_id, "cancelled", error={"error_type": "Cancelled", "message": "cancelled by user"})

    # -- queries ------------------------------------------------------------

    def get(self, job_id: str) -> dict | None:
        with self._lock:
            self._prune_unsafe(time.time())
            job = self._jobs.get(job_id)
            return json.loads(json.dumps(job, default=str)) if job else None

    def list(self, limit: int = 20, state: str | None = None) -> list[dict]:
        with self._lock:
            self._prune_unsafe(time.time())
            rows = [json.loads(json.dumps(j, default=str)) for j in self._jobs.values()]
        if state:
            rows = [r for r in rows if r.get("state") == state]
        rows.sort(key=lambda r: float(r.get("updated_at") or 0), reverse=True)
        return rows[: max(int(limit), 1)]


def spawn_job(
    store: JobStore,
    job_id: str,
    spark,
    work: Callable[[], dict],
    terminal_failure: Callable[[dict], bool] | None = None,
) -> threading.Thread:
    """Run ``work`` on a daemon thread, tagging its Spark jobs with the job id
    (``setJobGroup`` is thread-local, so only this worker's jobs join the
    group — that is what makes ``cancel_job`` precise). State transitions
    mirror the reference worker (tools/auto_heal.py:328-364): failure status
    in a completed result marks failed with the result attached."""

    def _runner() -> None:
        store.mark_running(job_id)
        try:
            sc = spark.sparkContext
            sc.setJobGroup(job_id, f"async job {job_id}", interruptOnCancel=True)
        except Exception:
            sc = None
        try:
            result = work()
            if terminal_failure and terminal_failure(result):
                store.mark_failed(
                    job_id,
                    {
                        "error_type": "ToolResultError",
                        "message": "job completed with failure status.",
                        "result": result,
                    },
                )
            else:
                store.mark_succeeded(job_id, result=result)
        except Exception as exc:
            # a cancelled group surfaces here as a Py4J job-cancelled error;
            # mark_failed is a no-op then (terminal states are sticky)
            store.mark_failed(job_id, {"error_type": type(exc).__name__, "message": str(exc)})
        finally:
            if sc is not None:
                try:
                    sc.setJobGroup("", "")
                except Exception:
                    pass

    thread = threading.Thread(target=_runner, name=job_id, daemon=True)
    thread.start()
    return thread
