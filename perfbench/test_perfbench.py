"""Tests of the benchmark's own parts: generator ground truth, self-time
arithmetic and the tracer's wrapping. No Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import threading

import pytest

from perfbench import gen
from perfbench.trace import Span, Tracer, self_times

# --- dirty table ---------------------------------------------------------------


@pytest.fixture(scope="module")
def dirty():
    table, truth = gen.dirty_table(20_000, seed=3)
    return table.to_pandas(), truth


def test_dirty_table_is_a_function_of_the_seed():
    a, ta = gen.dirty_table(2_000, seed=9)
    b, tb = gen.dirty_table(2_000, seed=9)
    c, _ = gen.dirty_table(2_000, seed=10)
    assert a.equals(b) and ta == tb
    assert not a.equals(c)


def test_dirty_table_duplicates(dirty):
    df, truth = dirty
    assert len(df) == truth["rows"] == truth["base_rows"] + truth["duplicates"]
    assert df["id"].nunique() == truth["base_rows"]
    # every repeated id is an exact copy of its row
    assert len(df.drop_duplicates()) == truth["base_rows"]


def test_dirty_table_nulls_and_outliers(dirty):
    df, truth = dirty
    base = df.drop_duplicates()
    for col, n in truth["nulls"].items():
        assert base[col].isna().sum() == n
    assert (base["quantity"] == 500).sum() == truth["outliers"]["quantity"]
    assert base["score"].isin([-200.0, 300.0]).sum() == truth["outliers"]["score"]
    assert (base["signup_date"] == "not a date").sum() == truth["bad_dates"]
    clean = base["segment"].str.strip().str.lower()
    assert set(clean) == set(gen.SEGMENTS) and set(base["segment"]) != set(gen.SEGMENTS)


def test_dirty_table_bounds_match_pandas(dirty):
    df, truth = dirty
    base = df.drop_duplicates()
    for col in gen.IQR_COLUMNS:
        q1, q3 = base[col].astype(float).quantile([0.25, 0.75])
        lo, hi = truth["bounds"][col]
        assert lo == pytest.approx(q1 - 1.5 * (q3 - q1)) and hi == pytest.approx(q3 + 1.5 * (q3 - q1))
    s = base[gen.ZSCORE_COLUMN]
    lo, hi = truth["bounds"][gen.ZSCORE_COLUMN]
    assert lo == pytest.approx(s.mean() - 3 * s.std()) and hi == pytest.approx(s.mean() + 3 * s.std())


# --- corpus --------------------------------------------------------------------

_PUNCT = re.compile(r"[!-/:-@\[-`{-~]")


def _norm(text: str) -> str:
    return " ".join(_PUNCT.sub(" ", text.lower()).split())


def _grams(text: str, n: int) -> set:
    toks = re.findall(r"[a-z0-9']+", text.lower())
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


@pytest.fixture(scope="module")
def corpus():
    docs, bench, truth = gen.corpus(200, seed=4)
    return docs.to_pandas().set_index("doc_id")["text"], bench.to_pandas()["text"].tolist(), truth


def test_corpus_is_a_function_of_the_seed():
    a, ba, ta = gen.corpus(50, seed=1)
    b, bb, tb = gen.corpus(50, seed=1)
    assert a.equals(b) and ba.equals(bb) and ta == tb


def test_corpus_counts(corpus):
    text, bench, truth = corpus
    assert len(text) == truth["docs"] == truth["survivors"] + sum(truth["injected"].values())
    assert sorted(text.index) == list(range(truth["docs"]))
    assert len(bench) == truth["injected"]["contaminated"] + gen.BENCH_UNUSED


def test_corpus_injected_documents_meet_their_stage(corpus):
    """Injected ids follow the base ids in injection order; each injected
    document crosses its stage's threshold against its source, and no two
    base documents come near any threshold."""
    text, bench, truth = corpus
    n = truth["survivors"]
    base = [text[i] for i in range(n)]
    base_norm = {_norm(t) for t in base}
    base3 = [_grams(t, 3) for t in base]
    base8 = set().union(*(_grams(t, 8) for t in base))
    bench8 = set().union(*(_grams(t, 8) for t in bench))
    i = n
    kinds = []
    for kind, count in truth["injected"].items():
        kinds += [kind] * count
    for kind in kinds:
        doc = text[i]
        i += 1
        if kind == "exact":
            assert _norm(doc) in base_norm and doc not in base
        elif kind == "near":
            g = _grams(doc, 3)
            assert max(len(g & b) / len(g | b) for b in base3) >= 0.95
        elif kind == "subset":
            assert _grams(doc, 8) <= base8
        elif kind == "repetitive":
            toks = doc.split()
            grams = [" ".join(toks[j : j + 3]) for j in range(len(toks) - 2)]
            assert 1 - len(set(grams)) / len(grams) > 0.5
        else:
            g = _grams(doc, 8)
            assert len(g & bench8) / len(g) > 0.5
    for a in range(0, n, 7):
        for b in range(a + 1, n, 5):
            assert len(base3[a] & base3[b]) / len(base3[a] | base3[b]) < 0.1


# --- tracing -------------------------------------------------------------------


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span("a", "a", 0.0, 10.0, None, 1),
        Span("b", "b", 1.0, 3.0, 0, 1),
        Span("b", "b", 2.0, 5.0, 0, 1),  # overlaps its sibling (another thread)
        Span("c", "c", 8.0, 12.0, 0, 1),  # runs past its parent: clipped
        Span("d", "d", 2.5, 3.5, 1, 1),  # grandchild: only its parent loses it, clipped
    ]
    assert self_times(spans) == pytest.approx([10 - 4 - 2, 2 - 0.5, 3, 4, 1])


def test_spans_on_engine_threads_parent_to_the_op():
    tr = Tracer()
    tr.active = True
    op = tr.start_op(1)
    outer = tr.begin("plans.pipeline", "run_pipeline")
    th = threading.Thread(target=lambda: tr.end(tr.begin("operators.profile", "profile")))
    th.start()
    th.join(timeout=10)
    assert not th.is_alive()
    tr.end(outer)
    tr.end_op(op)
    assert [s.parent for s in tr.spans] == [None, 0, 1]
    secs, calls = tr.layer_totals()
    assert calls == {"op": 1, "plans.pipeline": 1, "operators.profile": 1}
    assert sum(secs.values()) == pytest.approx(tr.spans[0].end - tr.spans[0].start)


def test_install_wraps_aliases_and_counts_calls():
    from analyst_toolkit_spark import tools
    from analyst_toolkit_spark.llm import curate, text
    from analyst_toolkit_spark.plans import pipeline

    original, fingerprint = pipeline.run_pipeline, text.fingerprint
    tr = Tracer()
    tr.install()
    try:
        assert tools.run_pipeline is pipeline.run_pipeline is not original
        assert curate.T.fingerprint is not fingerprint
        pipeline.strptime_to_spark("%Y")  # untraced: inactive
        tr.active = True
        assert pipeline.strptime_to_spark("%Y-%m-%d") == "yyyy-MM-dd"
    finally:
        tr.active = False
        tr.uninstall()
    assert pipeline.run_pipeline is original and tools.run_pipeline is original
    assert [(s.layer, s.name) for s in tr.spans] == [("plans.pipeline", "strptime_to_spark")]


def test_printed_metrics_are_the_ones_benchmark_json_lists():
    from perfbench import run

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    phase = run.Phase.__new__(run.Phase)
    phase.latencies, phase.rows, phase.attempted, phase.failed = [1.0, 3.0], 10, 2, 0
    phase.wall, phase.cpu = 2.0, 3.0
    phase.spark_first_cycle, phase.ops_first_cycle = [2, 4, 8], 2
    e2e = run.end_to_end(phase, 1.5, 900.0)
    assert {k: u for k, (_, u) in e2e.items()} == {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e["op_cpu_ms"][0] == 1500.0
    state = dict.fromkeys(("save_s", "get_s", "saves", "gets", "restores", "bytes_written", "input_bytes"), 0)
    layers = run.per_layer(Tracer(), phase, object(), phase, state)
    assert {k: u for k, (_, u) in layers.items()} == {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert layers["spark.tasks"][0] == 4


def test_pipeline_master_parses():
    from analyst_toolkit_spark.plans import config as C

    cfg = C.pipeline_config(gen.pipeline_master())
    assert all(cfg.enabled(m) for m in C.MODULE_ORDER if m != "validation_gatekeeper")
    assert {s.column for s in C.impute_specs(cfg.module_config("imputation"))} == set(gen.IMPUTE)
