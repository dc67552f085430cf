"""The three benchmark workloads.

Each is closed-loop with one client: the next op starts when the previous
one returned. An op is one top-level call into the engine's public
surface; ``cycle()`` returns the ops of one repeatable unit of work as
thunks. A thunk runs the op and returns ``(rows, check)``: the input rows
or documents it processed and a callable, run outside the timed region,
that says whether the op's output was correct.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys

from pyspark.sql import Observation
from pyspark.sql import functions as F

from analyst_toolkit_spark.llm import curate as CUR
from analyst_toolkit_spark.plans import config as C
from analyst_toolkit_spark.plans import pipeline as P
from analyst_toolkit_spark.server import RpcServer
from analyst_toolkit_spark.sources import io as S_io
from analyst_toolkit_spark.tools import Toolkit

from perfbench import gen

#: relative slack when comparing engine-derived bounds with NumPy's
BOUND_RTOL = 1e-6


class Workload:
    name = ""
    #: whole cycles every measuring phase runs at least, so a run's median
    #: rests on the same number of samples on a fast or a slow host
    MIN_CYCLES = 1

    def __init__(self, spark, work_dir: str, seed: int) -> None:
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.tracer = None
        #: input bytes the engine has been asked to load so far
        self.input_bytes_loaded = 0
        os.makedirs(work_dir, exist_ok=True)

    def generate(self) -> None:
        raise NotImplementedError

    def cycle(self) -> list:
        raise NotImplementedError

    def new_phase(self) -> None:
        """Restart the op schedule, so every measuring phase runs the same ops."""

    def warm_up(self) -> list:
        """Ops run once, untimed, before measuring."""
        return self.cycle()

    def sizes(self) -> dict:
        raise NotImplementedError

    @contextlib.contextmanager
    def span(self, layer: str):
        tracer = self.tracer
        if tracer is None or not tracer.active:
            yield
            return
        idx = tracer.begin(layer, layer)
        try:
            yield
        finally:
            tracer.end(idx)

    def materialize(self, df) -> None:
        with self.span("spark.materialize"):
            df.write.format("noop").mode("overwrite").save()


def _within(value, lo: float, hi: float) -> bool:
    slack = BOUND_RTOL * max(1.0, abs(lo), abs(hi))
    return value is not None and lo - slack <= value <= hi + slack


class PipelineBatch(Workload):
    name = "pipeline_batch"
    MIN_CYCLES = 2
    ROWS = 50_000
    #: input files; several, so a scan spreads over the cores
    PARTS = 8

    def generate(self) -> None:
        table, self.truth = gen.dirty_table(self.ROWS, self.seed)
        self.path = os.path.join(self.work, "dirty")
        self.input_bytes = gen.write_parquet(table, self.path, self.PARTS)
        self.cfg = C.pipeline_config(gen.pipeline_master())

    def sizes(self) -> dict:
        return {"rows": self.ROWS, "columns": 12, "input_bytes": self.input_bytes}

    def cycle(self) -> list:
        return [self._op]

    def _op(self):
        self.input_bytes_loaded += self.input_bytes
        df = S_io.load_any(self.spark, self.path)
        run = P.run_pipeline(self.spark, self.cfg, df)
        obs = Observation("pipeline_check")
        exprs = [F.count(F.lit(1)).alias("rows")]
        exprs += [F.sum(F.col(c).isNull().cast("long")).alias(f"null_{c}") for c in gen.IMPUTE]
        for c in (*gen.IQR_COLUMNS, gen.ZSCORE_COLUMN):
            exprs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
        self.materialize(run.df.observe(obs, *exprs))
        return self.truth["rows"], lambda: self._check(run, obs.get)

    def _check(self, run, got: dict) -> bool:
        t = self.truth
        ok = got["rows"] == t["rows"] - t["duplicates"]
        ok &= all(got[f"null_{c}"] == 0 for c in gen.IMPUTE)
        for c, (lo, hi) in t["bounds"].items():
            ok &= _within(got[f"min_{c}"], lo, hi) and _within(got[f"max_{c}"], lo, hi)
        return bool(ok and run.reports["final_audit"]["certified"])


class AgentSession(Workload):
    """Scripted MCP sessions sent as JSON strings through the RPC server.
    ``OPEN`` sessions run interleaved, one call each in turn, over a durable
    session store that holds fewer than that, so calls restore evicted
    sessions from disk."""

    name = "agent_session"
    ROWS = 10_000
    TABLES = 6
    OPEN = 2
    MAX_ENTRIES = 1

    def generate(self) -> None:
        self.tables = []
        for j in range(self.TABLES):
            table, truth = gen.dirty_table(self.ROWS, self.seed * 1000 + j)
            path = os.path.join(self.work, f"session_{j}")
            self.tables.append((path, gen.write_parquet(table, path), truth))
        self.persist_dir = os.path.join(self.work, "state")
        self.toolkit = Toolkit(self.spark, persist_dir=self.persist_dir, max_entries=self.MAX_ENTRIES)
        self.server = RpcServer(self.toolkit)
        modules = gen.pipeline_master()["modules"]
        self.configs = {
            m: modules[m]["config"]
            for m in ("normalization", "duplicates", "outlier_detection", "imputation", "final_audit")
        }
        self.response_bytes: list[int] = []
        self._sessions = 0
        self._request = 0
        self._phase_sessions = 0

    def sizes(self) -> dict:
        return {
            "rows_per_table": self.ROWS, "tables": self.TABLES, "open_sessions": self.OPEN,
            "max_entries": self.MAX_ENTRIES, "calls_per_session": len(self._script("x", 0)),
        }

    def new_phase(self) -> None:
        self._phase_sessions = 0

    def warm_up(self) -> list:
        # one cycle over the last tables, which a measured cycle reaches last
        return self._interleave([(f"warm{k}", self.TABLES - 1 - k) for k in range(self.OPEN)])

    def _script(self, sid: str, table: int) -> list[tuple[str, dict, int]]:
        path, _, truth = self.tables[table]
        rows = truth["rows"]
        s = {"session_id": sid}
        return [
            ("load_session", {**s, "input_path": path}, rows),
            ("diagnostics", s, rows),
            ("infer_configs", s, rows),
            ("normalization", {**s, "config": self.configs["normalization"]}, rows),
            ("duplicates", {**s, "config": self.configs["duplicates"]}, rows),
            ("outlier_detection", {**s, "config": self.configs["outlier_detection"]}, rows),
            ("imputation", {**s, "config": self.configs["imputation"]}, rows),
            ("final_audit", {**s, "config": self.configs["final_audit"]}, rows),
            ("data_dictionary", s, rows),
            ("data_health", {}, 0),
            ("run_history", {"limit": 20}, 0),
            ("manage_session", {"action": "delete", "session_id": sid}, 0),
        ]

    def cycle(self) -> list:
        sessions = []
        for _ in range(self.OPEN):
            sessions.append((f"s{self._sessions:05d}", self._phase_sessions % self.TABLES))
            self._sessions += 1
            self._phase_sessions += 1
        return self._interleave(sessions)

    def _interleave(self, sessions: list[tuple[str, int]]) -> list:
        """The sessions' scripts, one call of each in turn."""
        scripts = [[(sid, table, *step) for step in self._script(sid, table)] for sid, table in sessions]
        return [self._call_thunk(*script[i]) for i in range(len(scripts[0])) for script in scripts]

    def _call_thunk(self, sid: str, table: int, tool: str, arguments: dict, rows: int):
        def op():
            self._request += 1
            raw = json.dumps(
                {"jsonrpc": "2.0", "id": self._request, "method": "tools/call",
                 "params": {"name": tool, "arguments": arguments}}
            )
            reply = json.dumps(self.server.handle_json(raw), default=str)
            self.response_bytes.append(len(reply))
            if tool == "load_session":
                self.input_bytes_loaded += self.tables[table][1]
            return rows, lambda: self._check(tool, reply)

        return op

    @staticmethod
    def _check(tool: str, reply: str) -> bool:
        result = json.loads(reply).get("result")
        if tool == "data_health":
            # the health payload's own "status" (green/yellow/red) replaces
            # the tool status in this reply
            ok = isinstance(result, dict) and 0 <= result.get("overall_score", -1) <= 100
        else:
            ok = isinstance(result, dict) and result.get("status") == "pass"
        if not ok:
            print(f"{tool}: {reply[:500]}", file=sys.stderr)
        return ok


class CurateCorpus(Workload):
    name = "curate_corpus"
    MIN_CYCLES = 2
    DOCS = 400

    def generate(self) -> None:
        docs, bench, self.truth = gen.corpus(self.DOCS, self.seed)
        self.docs_path = os.path.join(self.work, "docs")
        self.bench_path = os.path.join(self.work, "bench")
        self.input_bytes = gen.write_parquet(docs, self.docs_path) + gen.write_parquet(bench, self.bench_path)

    def sizes(self) -> dict:
        return {"base_docs": self.DOCS, "docs": self.truth["docs"], "injected": self.truth["injected"]}

    def cycle(self) -> list:
        return [self._op]

    def _op(self):
        self.input_bytes_loaded += self.input_bytes
        docs = S_io.load_any(self.spark, self.docs_path)
        bench = S_io.load_any(self.spark, self.bench_path)
        out, _ = CUR.curate_corpus(
            docs,
            min_quality=0.2,
            max_repetition=0.5,
            exact_dedup=True,
            near_dedup_threshold=0.8,
            containment_drop_threshold=0.5,
            benchmark=bench,
            splits={"train": 0.9, "val": 0.05, "test": 0.05},
            pack_budget=512,
        )
        obs = Observation("curate_check")
        self.materialize(
            out.observe(
                obs, F.count(F.lit(1)).alias("n"), F.sum("doc_id").alias("id_sum"), F.max("doc_id").alias("id_max")
            )
        )
        return self.truth["docs"], lambda: self._check(obs.get)

    def _check(self, got: dict) -> bool:
        # survivors are exactly the base documents, ids 0..n-1
        n = self.truth["survivors"]
        return got["n"] == n and got["id_sum"] == n * (n - 1) // 2 and got["id_max"] == n - 1


WORKLOADS = {w.name: w for w in (PipelineBatch, AgentSession, CurateCorpus)}
