"""The bench harness's weather-correction logic (bench.combine_anchor_ratios):
pure arithmetic, no Spark — pinned here because the committed BENCH artifact's
honesty depends on it (r12 VERDICT #6 / "What's wrong" #3)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench as B


def _cal(scale_pre: float, scale_post: float):
    pre = {n: B.CAL_REF[n][0] * scale_pre for n in B.CAL_QUERIES}
    post = {n: B.CAL_REF[n][1] * scale_post for n in B.CAL_QUERIES}
    return pre, post


def test_quiet_host_is_identity():
    pre, post = _cal(1.0, 1.0)
    out = B.combine_anchor_ratios(B.ANCHOR_REF, B.ANCHOR_REF_POST, pre, post)
    assert not out["storm"]
    assert abs(out["ratio"] - 1.0) < 1e-9


def test_uniform_load_corrects_fully():
    # both slots uniformly 1.2x slower -> ratio 1.2, no storm flag
    pre, post = _cal(1.2, 1.2)
    out = B.combine_anchor_ratios(B.ANCHOR_REF * 1.2, B.ANCHOR_REF_POST * 1.2, pre, post)
    assert not out["storm"]
    assert abs(out["ratio"] - 1.2) < 1e-6


def test_pre_slot_storm_takes_quiet_slot():
    # the measured r13 incident shape: storm hits ONLY the pre slot and dies
    # before the suite — the correction must ride the quiet post slot, never
    # average 4x into the whole session (which would flatter the headline)
    pre, post = _cal(4.0, 1.0)
    out = B.combine_anchor_ratios(B.ANCHOR_REF * 4.0, B.ANCHOR_REF_POST, pre, post)
    assert out["storm"]
    assert abs(out["ratio"] - 1.0) < 1e-9
    assert out["ratio_pre"] > 3.5  # the storm is still visible in the artifact


def test_post_slot_storm_symmetric():
    pre, post = _cal(1.0, 4.0)
    out = B.combine_anchor_ratios(B.ANCHOR_REF, B.ANCHOR_REF_POST * 4.0, pre, post)
    assert out["storm"]
    assert abs(out["ratio"] - 1.0) < 1e-9


def test_fast_host_storm_also_picks_closer_to_quiet():
    # a 'negative storm' (one slot implausibly fast — e.g. a ref mis-pin or
    # frequency boost) must also resolve toward quiet, not flatter upward
    pre, post = _cal(0.25, 1.0)
    out = B.combine_anchor_ratios(B.ANCHOR_REF * 0.25, B.ANCHOR_REF_POST, pre, post)
    assert out["storm"]
    assert abs(out["ratio"] - 1.0) < 1e-9


def test_components_recorded():
    pre, post = _cal(1.1, 0.9)
    out = B.combine_anchor_ratios(B.ANCHOR_REF * 0.9, B.ANCHOR_REF_POST * 1.1, pre, post)
    for k in ("ratio", "ratio_pre", "ratio_post", "ratio_micro", "ratio_cal", "storm"):
        assert k in out


def test_cal_probes_are_frozen_bench_local():
    """r13 VERDICT "What's wrong" #1: CAL_REF pins quiet-host timings, so the
    calibration probes must be BENCH-LOCAL snapshots — a registry/library
    code regression must not be able to move them (it would read as host
    load and be divided out of the headline). Asserts each probe is defined
    in bench.py and references neither the registry nor the library."""
    import inspect

    for name in B.CAL_QUERIES:
        fn = B._CAL_PROBES[name]
        assert fn.__module__ == "bench", name
        src = inspect.getsource(fn)
        assert "analyst_toolkit_spark" not in src, name
        assert "__spark_entry__" not in src, name
        assert "entry_mod" not in src, name
        assert "queries(" not in src, name
    assert isinstance(B.BENCH_PROTOCOL, str) and B.BENCH_PROTOCOL


def test_cal_probes_sync_with_registry(spark, sf_dir):
    """Sync check for the ref-refresh rule: TODAY the frozen probes compute
    exactly what their registry twins compute. If this fails because a
    registry query was DELIBERATELY changed, do NOT edit the frozen probe to
    follow it silently — re-freeze the probe, re-measure CAL_REF on a quiet
    host in the same change, and bump BENCH_PROTOCOL (see the _CAL_PROBES
    block in bench.py)."""
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    for name in B.CAL_QUERIES:
        frozen = sorted(map(tuple, B._CAL_PROBES[name](spark, sf_dir).collect()))
        live = sorted(map(tuple, qs[name](spark, sf_dir).collect()))
        assert frozen == live, (
            f"{name}: frozen calibration probe diverged from the registry — "
            f"if the registry change is deliberate, re-freeze the probe AND "
            f"re-measure CAL_REF (bench.py ref-refresh rule)"
        )
