"""Repository benchmark: one seeded, closed-loop, single-client workload per run.

    python3 perfbench/run.py --workload agent_session --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``;
the engine is driven only through its public functions, on
``local[<nproc>]``. The last line of standard output is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
line before it carries the context (host, sizes, sample counts).
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ("pipeline_batch", "agent_session", "curate_corpus")
#: input generations per run; setup_s takes their median
SETUPS = 3


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(work: str) -> None:
    """Host hygiene before the JVM starts: local[nproc], every scratch file
    inside the checkout, a bounded driver heap on a shared host."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"


def _jvm_peak_mb(spark) -> float:
    """Peak resident memory of the driver JVM (the launched gateway process)."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM for the JVM")


def _children(pid: int) -> set[int]:
    """Every live descendant of ``pid``."""
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    parent[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
                pass
    out, frontier = set(), {pid}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier} - out
        out |= frontier
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError):
        return False


def _stop_spark(spark) -> None:
    """Stop the session, end the driver JVM (it exits when its stdin
    closes) and wait until it and the Python workers it started are gone."""
    proc = spark.sparkContext._gateway.proc
    workers = _children(proc.pid)
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=120)
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in workers) and time.monotonic() < deadline:
        time.sleep(0.1)


def _cpu_s(spark) -> float:
    """CPU seconds used so far by this process, the driver JVM and every
    process under it (Python workers; reaped ones through cutime/cstime)."""
    pid = spark.sparkContext._gateway.proc.pid
    ticks = 0
    for p in (pid, *_children(pid)):
        try:
            with open(f"/proc/{p}/stat") as fh:
                ticks += sum(int(v) for v in fh.read().rsplit(")", 1)[1].split()[11:15])
        except (FileNotFoundError, ProcessLookupError):
            pass
    return time.process_time() + ticks / os.sysconf("SC_CLK_TCK")


def _quantile(values: list[float], q: float) -> float:
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


class Phase:
    """Measures whole cycles of a workload until ``seconds`` have passed
    and at least ``min_cycles`` ran."""

    def __init__(self, workload, seconds: float, tracer=None, spark_counter=None, ops=None, min_cycles=1):
        self.latencies: list[float] = []
        self.rows = 0
        self.attempted = self.failed = 0
        self.spark_first_cycle = [0, 0, 0]
        self.ops_first_cycle = 0
        workload.new_phase()
        cpu = _cpu_s(workload.spark)
        start = time.perf_counter()
        cycles = 0
        while cycles < min_cycles or time.perf_counter() - start < seconds:
            for thunk in ops if ops is not None else workload.cycle():
                self._one(thunk, tracer, spark_counter if cycles == 0 else None)
                if cycles == 0:
                    self.ops_first_cycle += 1
            cycles += 1
        self.wall = time.perf_counter() - start
        self.cpu = _cpu_s(workload.spark) - cpu

    def _one(self, thunk, tracer, spark_counter) -> None:
        self.attempted += 1
        op = self.attempted
        span = tracer.start_op(op) if tracer else None
        group = spark_counter.begin(op) if spark_counter else None
        t = time.perf_counter()
        try:
            rows, check = thunk()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            rows, check = 0, None
        dt = time.perf_counter() - t
        if tracer:
            tracer.end_op(span)
        if spark_counter:
            for i, v in enumerate(spark_counter.end(group)):
                self.spark_first_cycle[i] += v
        ok = False
        if check is not None:
            try:
                ok = bool(check())
            except Exception:
                traceback.print_exc(file=sys.stderr)
        if not ok:
            self.failed += 1
            print(f"op {op} failed its check", file=sys.stderr)
        self.latencies.append(dt * 1000.0)
        self.rows += rows

    def extend(self, other: "Phase") -> None:
        self.latencies += other.latencies
        self.rows += other.rows
        self.attempted += other.attempted
        self.failed += other.failed
        self.wall += other.wall
        self.cpu += other.cpu

    def p50(self) -> float:
        return statistics.median(self.latencies)


def end_to_end(phase: Phase, setup_s: float, rss_mb: float) -> dict:
    """The metrics ``BENCHMARK.json`` bounds. CPU time per op rather than
    wall time: on a shared host the wall time of a run follows the load
    the neighbours put on the cores, its CPU time far less."""
    return {
        "op_cpu_ms": (phase.cpu * 1000.0 / phase.attempted, "ms"),
        "peak_rss_mb": (rss_mb, "MB"),
        "setup_s": (setup_s, "s"),
    }


def wall_clock(phase: Phase) -> dict:
    """Wall-clock metrics of the measuring phase, reported beside the
    bounded ones."""
    out = {
        "op_latency_ms.p50": (phase.p50(), "ms"),
        "rows_per_s": (phase.rows / phase.wall, "1/s"),
        "ops_per_s": (phase.attempted / phase.wall, "1/s"),
        "cpu_utilization": (phase.cpu / phase.wall, "cores"),
    }
    # the highest percentile with at least ten samples beyond it
    if len(phase.latencies) >= 100:
        out["op_latency_ms.p90"] = (_quantile(phase.latencies, 0.9), "ms")
    return out


OPERATORS = ("profile", "validation", "normalize", "duplicates", "outliers", "impute", "final_audit", "infer", "dictionary")
LLM = ("curate", "dedup", "text", "pack")


def per_layer(tracer, phase: Phase, workload, untraced: Phase, state: dict) -> dict:
    secs, calls = tracer.layer_totals()
    n = phase.attempted
    ms = {k: v * 1000.0 / n for k, v in secs.items()}
    per = {k: v / n for k, v in calls.items()}
    out: dict = {}
    for m in OPERATORS:
        out[f"operators.{m}.ms"] = (ms.get(f"operators.{m}", 0.0), "ms")
        out[f"operators.{m}.calls"] = (per.get(f"operators.{m}", 0.0), "count")
    out["plans.pipeline.self_ms"] = (ms.get("plans.pipeline", 0.0), "ms")
    out["plans.pipeline.calls"] = (per.get("plans.pipeline", 0.0), "count")
    out["spark.materialize_ms"] = (ms.get("spark.materialize", 0.0), "ms")
    k = max(phase.ops_first_cycle, 1)
    for name, v in zip(("jobs", "stages", "tasks"), phase.spark_first_cycle):
        out[f"spark.{name}"] = (v / k, "count")
    out["server.self_ms"] = (ms.get("server", 0.0), "ms")
    resp = getattr(workload, "response_bytes", [])
    out["server.response_bytes"] = (statistics.mean(resp) if resp else 0.0, "B")
    out["tools.self_ms"] = (ms.get("tools", 0.0), "ms")
    out["tools.calls"] = (per.get("tools", 0.0), "count")
    out["state.save_ms"] = (state["save_s"] * 1000.0 / n, "ms")
    out["state.get_ms"] = (state["get_s"] * 1000.0 / n, "ms")
    out["state.saves"] = (state["saves"] / n, "count")
    out["state.restores"] = (state["restores"] / n, "count")
    out["state.restore_ratio"] = (state["restores"] / state["gets"] if state["gets"] else 0.0, "ratio")
    written = state["bytes_written"]
    out["state.bytes_written_per_input_byte"] = (written / state["input_bytes"] if state["input_bytes"] else 0.0, "B/B")
    out["ingest.ms"] = (ms.get("ingest", 0.0), "ms")
    out["ingest.calls"] = (per.get("ingest", 0.0), "count")
    out["sources.io.ms"] = (ms.get("sources.io", 0.0), "ms")
    out["sources.io.calls"] = (per.get("sources.io", 0.0), "count")
    out["llm.curate.self_ms"] = (ms.get("llm.curate", 0.0), "ms")
    for m in LLM:
        if m != "curate":
            out[f"llm.{m}.ms"] = (ms.get(f"llm.{m}", 0.0), "ms")
        out[f"llm.{m}.calls"] = (per.get(f"llm.{m}", 0.0), "count")
    out["trace.overhead_ms"] = (phase.p50() - untraced.p50(), "ms")
    return out


def _state_hooks(state: dict) -> dict:
    """Counters at the session-store boundary: save/get time, saves,
    gets, restores from disk and bytes the store wrote."""
    from perfbench.trace import dir_bytes

    def on_save(args, kwargs):
        store = args[0]
        before = dir_bytes(store.persist_dir) if store.persist_dir else {}
        t = time.perf_counter()

        def after():
            state["save_s"] += time.perf_counter() - t
            state["saves"] += 1
            if store.persist_dir:
                now = dir_bytes(store.persist_dir)
                state["bytes_written"] += sum(v for p, v in now.items() if before.get(p) != v)

        return after

    def on_get(args, kwargs):
        store, sid = args[0], (args[1] if len(args) > 1 else kwargs["session_id"])
        in_memory = any(s["session_id"] == sid for s in store.list_sessions())
        t = time.perf_counter()

        def after():
            state["get_s"] += time.perf_counter() - t
            state["gets"] += 1
            state["restores"] += not in_memory

        return after

    return {"state.save": on_save, "state.get": on_get}


def traced_run(spark, workload, seconds: float):
    """Untraced, traced, untraced phases (the order cancels a steady
    warming trend out of the overhead); per-layer metrics come from the
    traced one, Spark counts from its first cycle."""
    from perfbench.trace import SparkCounter, Tracer

    state = dict.fromkeys(("save_s", "get_s", "saves", "gets", "restores", "bytes_written", "input_bytes"), 0)
    tracer = Tracer()
    tracer.install(_state_hooks(state))
    workload.tracer = tracer

    def traced(counter) -> Phase:
        loaded = workload.input_bytes_loaded
        tracer.active = True
        try:
            return Phase(workload, seconds / 3, tracer, counter)
        finally:
            tracer.active = False
            state["input_bytes"] += workload.input_bytes_loaded - loaded

    untraced = Phase(workload, seconds / 3)
    t = traced(SparkCounter(spark))
    untraced.extend(Phase(workload, seconds / 3))
    return per_layer(tracer, t, workload, untraced, state), untraced, t


def _remove_work(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass  # another run still uses it


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    _prepare_env(work)
    sys.path.insert(0, ROOT)
    try:
        import analyst_toolkit_spark
    except ImportError as exc:
        print(f"engine not importable from {ROOT}: {exc}", file=sys.stderr)
        _remove_work(work)
        return 2
    if not os.path.abspath(analyst_toolkit_spark.__file__).startswith(ROOT + os.sep):
        print("engine imported from outside the checkout", file=sys.stderr)
        _remove_work(work)
        return 2

    spark = None
    try:
        from analyst_toolkit_spark.session import get_spark

        from perfbench.workloads import WORKLOADS

        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("OFF")
        start_s = time.perf_counter() - T_PROCESS

        gens = []
        workload = None
        for i in range(SETUPS):
            w = WORKLOADS[args.workload](spark, os.path.join(work, f"setup{i}"), args.seed)
            t = time.perf_counter()
            w.generate()
            gens.append(time.perf_counter() - t)
            workload = w  # the last set of inputs is the one measured
        t = time.perf_counter()
        warm = Phase(workload, 0, ops=workload.warm_up())
        warm_s = time.perf_counter() - t
        setup_s = start_s + statistics.median(gens) + warm_s

        if args.trace:
            metrics, untraced, traced = traced_run(spark, workload, args.seconds)
            phases = (warm, untraced, traced)
        else:
            untraced = Phase(workload, args.seconds, min_cycles=workload.MIN_CYCLES)
            rss = {"python": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0, "jvm": _jvm_peak_mb(spark)}
            metrics = end_to_end(untraced, setup_s, sum(rss.values()))
            phases = (warm, untraced)

        info = {
            "workload": args.workload, "seed": args.seed, "nproc": _nproc(), "spark": spark.version,
            "sizes": workload.sizes(), "samples": len(untraced.latencies),
            "wall_clock": {k: {"value": v, "unit": u} for k, (v, u) in wall_clock(untraced).items()},
            "op_latency_ms": {"min": min(untraced.latencies), "max": max(untraced.latencies)},
            "setup": {"spark_start_s": start_s, "generate_s": gens, "warmup_s": warm_s},
            "error_rate": untraced.failed / untraced.attempted,
        }
        if args.trace:
            info["traced_samples"] = len(traced.latencies)
        else:
            info["peak_rss_mb"] = rss
        attempted = sum(p.attempted for p in phases)
        failed = sum(p.failed for p in phases)
        print(json.dumps({"info": info}))
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": attempted,
                    "failed": failed,
                    "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                }
            )
        )
        return 0
    finally:
        if spark is not None:
            _stop_spark(spark)
        _remove_work(work)


if __name__ == "__main__":
    sys.exit(main())
