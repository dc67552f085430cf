"""In-memory span tracing around the engine's public functions.

The tracer wraps functions from the benchmark's side: it replaces each
public function of a layer module with a wrapper, in the defining module
and in every engine module that bound the same function object under its
own name (``from x import f``), so module-level aliases are caught too.
Spans (name, start, end, parent, op id) and counts stay in memory until the
run ends. A span's self time is its duration minus the part of it that its
child spans cover.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import os
import sys
import threading
import time
from collections import Counter, defaultdict
from dataclasses import dataclass

#: layer name -> module whose public functions are the layer boundary
FUNCTION_LAYERS = {
    "plans.pipeline": "analyst_toolkit_spark.plans.pipeline",
    **{
        f"operators.{m}": f"analyst_toolkit_spark.operators.{m}"
        for m in (
            "profile", "validation", "normalize", "duplicates", "outliers",
            "impute", "final_audit", "infer", "dictionary",
        )
    },
    "ingest": "analyst_toolkit_spark.ingest",
    "sources.io": "analyst_toolkit_spark.sources.io",
    **{f"llm.{m}": f"analyst_toolkit_spark.llm.{m}" for m in ("curate", "dedup", "text", "pack")},
}

#: layer name -> (module, class, methods)
METHOD_LAYERS = {
    "tools": ("analyst_toolkit_spark.tools", "Toolkit", ("call",)),
    "server": ("analyst_toolkit_spark.server", "RpcServer", ("handle_json",)),
    "state": ("analyst_toolkit_spark.state", "SessionStore", ("save", "get", "delete")),
}


@dataclass
class Span:
    layer: str
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


def self_times(spans: list[Span]) -> list[float]:
    """Per span: duration minus the union of its children's intervals,
    clipped to the span (children may overlap when they run on threads)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(i, ())):
            lo, hi = max(lo, s.start), min(hi, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((s.end - s.start) - covered)
    return out


class Tracer:
    """Records spans while ``active``; one op at a time (closed loop)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self.op: int | None = None
        self._op_thread: int | None = None
        self._stacks: dict[int, list[int]] = defaultdict(list)
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    # -- spans ----------------------------------------------------------------

    def begin(self, layer: str, name: str) -> int:
        tid = threading.get_ident()
        with self._lock:
            stack = self._stacks[tid]
            if stack:
                parent = stack[-1]
            else:
                # a thread the engine started inside the op: parent it to
                # whatever the op's own thread is inside of
                op_stack = self._stacks.get(self._op_thread) if self._op_thread is not None else None
                parent = op_stack[-1] if op_stack else None
            self.spans.append(Span(layer, name, time.perf_counter(), 0.0, parent, self.op))
            idx = len(self.spans) - 1
            stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        now = time.perf_counter()
        with self._lock:
            self.spans[idx].end = now
            stack = self._stacks[threading.get_ident()]
            if stack and stack[-1] == idx:
                stack.pop()

    def start_op(self, op: int) -> int:
        self.op = op
        self._op_thread = threading.get_ident()
        return self.begin("op", "op")

    def end_op(self, idx: int) -> None:
        self.end(idx)
        self.op = None

    def layer_totals(self) -> tuple[dict[str, float], Counter]:
        """(self seconds by layer, calls by layer) over every recorded span."""
        secs: dict[str, float] = defaultdict(float)
        calls: Counter = Counter()
        for s, st in zip(self.spans, self_times(self.spans)):
            secs[s.layer] += st
            calls[s.layer] += 1
        return secs, calls

    # -- wrapping ---------------------------------------------------------------

    def _wrapper(self, layer: str, fn, hook=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            after = hook(args, kwargs) if hook else None
            idx = tracer.begin(layer, fn.__name__)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(idx)
                if after is not None:
                    after()

        return wrapper

    def install(self, hooks: dict | None = None) -> None:
        """Wrap every layer boundary. ``hooks`` maps "layer.method" to a
        callable run with the call's arguments before the call; what it
        returns, if not None, is called after the call."""
        hooks = hooks or {}
        originals: dict[int, object] = {}
        for layer, modname in FUNCTION_LAYERS.items():
            mod = importlib.import_module(modname)
            for name, fn in vars(mod).copy().items():
                if name.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != modname:
                    continue
                originals[id(fn)] = (fn, self._wrapper(layer, fn))
        for layer, (modname, clsname, methods) in METHOD_LAYERS.items():
            cls = getattr(importlib.import_module(modname), clsname)
            for m in methods:
                fn = cls.__dict__[m]
                self._set(cls, m, self._wrapper(layer, fn, hooks.get(f"{layer}.{m}")))
        # rebind every engine-module attribute that holds a wrapped function
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname.startswith("analyst_toolkit_spark") or modname.startswith("perfbench")):
                continue
            for name, val in vars(mod).copy().items():
                hit = originals.get(id(val))
                if hit is not None and hit[0] is val:
                    self._set(mod, name, hit[1])

    def _set(self, owner, name: str, value) -> None:
        self._undo.append((owner, name, getattr(owner, name)))
        setattr(owner, name, value)

    def uninstall(self) -> None:
        for owner, name, old in reversed(self._undo):
            setattr(owner, name, old)
        self._undo.clear()


class SparkCounter:
    """Jobs, stages and tasks that ran for one op, read from Spark's status
    tracker. The op's own thread runs under a job group; threads the engine
    starts inside the op do not inherit it, so jobs with no group that
    appeared during the op are counted too (one client, nothing else runs)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._drain()
        self._seen_ungrouped: set[int] = set(self.tracker.getJobIdsForGroup(None))

    def _drain(self) -> None:
        """Wait until the listener bus that feeds the status store is empty."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def begin(self, op: int) -> str:
        group = f"perfbench-op-{op}"
        self.sc.setJobGroup(group, group)
        return group

    def end(self, group: str) -> tuple[int, int, int]:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        self._drain()
        ungrouped = set(self.tracker.getJobIdsForGroup(None))
        jobs = set(self.tracker.getJobIdsForGroup(group)) | (ungrouped - self._seen_ungrouped)
        self._seen_ungrouped |= ungrouped
        # a shuffle stage reused by a later job is listed by both
        stage_ids = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            stage_ids.update(info.stageIds if info else ())
        stages = tasks = 0
        for sid in stage_ids:
            st = self.tracker.getStageInfo(sid)
            if st is not None and st.numCompletedTasks > 0:
                stages += 1
                tasks += st.numCompletedTasks
        return len(jobs), stages, tasks


def dir_bytes(path: str) -> dict[str, int]:
    """path -> size of every file under ``path``."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out
