"""Size-aware quantile strategy: above QUANTILE_REFINE_THRESHOLD_BYTES the
exact quartiles switch from the builtin ``percentile`` aggregate (single-
threaded merge, O(distinct) memory) to the bounded-memory refine path —
with IDENTICAL results, so the switch is purely an execution-shape choice.

These tests force the switch by dropping the threshold to 0 and assert the
refined path agrees with the builtin path everywhere it is wired in
(profile, outlier bounds, boxplot, median impute).
"""

import math

import pytest

from analyst_toolkit_spark.functions import stats as S
from analyst_toolkit_spark.ingest import load_table
from analyst_toolkit_spark.operators import impute as M_imp
from analyst_toolkit_spark.operators import outliers as M_out
from analyst_toolkit_spark.operators import profile as M_prof
from analyst_toolkit_spark.operators import visuals as M_vis


@pytest.fixture()
def lineitem(spark, sf_dir):
    return load_table(spark, sf_dir, "lineitem")


def _force_refined(monkeypatch):
    monkeypatch.setattr(S, "QUANTILE_REFINE_THRESHOLD_BYTES", 0)


def _force_builtin(monkeypatch):
    monkeypatch.setattr(S, "QUANTILE_DRIVER_THRESHOLD_BYTES", 0)


def test_driver_tier_matches_builtin(spark, lineitem, monkeypatch):
    cols_ps = {"l_extendedprice": [0.25, 0.5, 0.75], "l_quantity": [0.5]}
    drv = S.quantile_stats(lineitem, cols_ps, minmax=True)
    from pyspark.sql import functions as F

    for c, ps in cols_ps.items():
        row = lineitem.agg(
            S.percentile_exact(F.col(c), ps).alias("q"),
            F.min(c).cast("double").alias("mn"),
            F.max(c).cast("double").alias("mx"),
        ).first()
        for a, b in zip(drv[f"q::{c}"], row["q"]):
            assert math.isclose(a, float(b), rel_tol=0, abs_tol=1e-9), (c, drv[f"q::{c}"], row["q"])
        assert (drv[f"min::{c}"], drv[f"max::{c}"]) == (float(row["mn"]), float(row["mx"]))


def test_driver_tier_row_cap_falls_back_to_refined(spark, lineitem, monkeypatch):
    # simulate a wildly wrong plan-bytes estimate: the row cap trips and the
    # answer comes from the distributed REFINED tier (r5: the builtin
    # percentile aggregate is slowest exactly where the cap trips — 45x on
    # the 10x scale sweep) — identical values, zero rows collected
    from pyspark.sql import Column

    cols_ps = {"l_extendedprice": [0.25, 0.5, 0.75]}
    expect = S.quantile_stats(lineitem, cols_ps, minmax=True)
    monkeypatch.setattr(S, "QUANTILE_DRIVER_MAX_ROWS", 10)
    stats = S.quantile_stats(lineitem, cols_ps, minmax=True)
    # refined shape: quartiles already computed, min/max left for the caller's agg
    assert isinstance(stats["min::l_extendedprice"], Column)
    got = S.collect_stats(lineitem, stats)
    for a, b in zip(expect["q::l_extendedprice"], got["q::l_extendedprice"]):
        assert math.isclose(a, b, rel_tol=0, abs_tol=1e-9)
    for k in ("min::l_extendedprice", "max::l_extendedprice"):
        assert expect[k] == float(got[k])


def test_driver_tier_row_cap_all_null(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(S, "QUANTILE_DRIVER_MAX_ROWS", 2)
    df = _parquet_frame(spark, tmp_path, "nulls", [None] * 5)
    got = S.collect_stats(df, S.quantile_stats(df, {"x": [0.5]}, minmax=True))
    assert got == {"q::x": [None], "min::x": None, "max::x": None}


def test_driver_tier_all_null_column(spark, tmp_path):
    df = _parquet_frame(spark, tmp_path, "nulls", [None, None])
    assert S.quantile_stats(df, {"x": [0.5]}, minmax=True) == {"q::x": [None], "min::x": None, "max::x": None}


def test_strategy_picks_by_plan_size(spark, lineitem, monkeypatch):
    from pyspark.sql import Column

    def shape(exact=True):
        # which entries quantile_stats computed itself vs left as aggregates
        st = S.quantile_stats(lineitem, {"l_quantity": [0.5]}, exact=exact, minmax=True)
        return tuple(isinstance(st[k], Column) for k in ("q::l_quantity", "min::l_quantity"))

    # parquet scan carries footer stats -> size known and tiny at sf0.001
    assert S.plan_size_bytes(lineitem) > 0
    assert S.quantile_strategy(lineitem) == "driver" and shape() == (False, False)
    assert S.quantile_strategy(lineitem, exact=False) == "approx" and shape(False) == (True, True)
    # between the driver gate and the refine gate: builtin
    monkeypatch.setattr(S, "QUANTILE_DRIVER_THRESHOLD_BYTES", 0)
    assert S.quantile_strategy(lineitem) == "builtin" and shape() == (True, True)
    _force_refined(monkeypatch)
    assert S.quantile_strategy(lineitem) == "refined" and shape() == (False, True)


def test_strategy_unknown_size_stays_builtin(spark):
    df = spark.range(10).selectExpr("id", "id * 2 as v")
    # range relations report huge/unknown stats in some plans; whatever the
    # estimate, an unknown (-1) must never flip to refined
    if S.plan_size_bytes(df) == -1:
        assert S.quantile_strategy(df) == "builtin"


def test_profile_refined_matches_builtin(spark, lineitem, monkeypatch):
    with monkeypatch.context() as m:
        _force_builtin(m)
        base = {r["column"]: r.asDict() for r in M_prof.profile(lineitem).collect()}
    _force_refined(monkeypatch)
    ref = {r["column"]: r.asDict() for r in M_prof.profile(lineitem).collect()}
    assert base.keys() == ref.keys()
    for col in base:
        for k in ("q25", "q50", "q75"):
            b, r = base[col][k], ref[col][k]
            if b is None:
                assert r is None, (col, k)
            else:
                assert math.isclose(b, r, rel_tol=0, abs_tol=1e-9), (col, k, b, r)


def test_outlier_bounds_refined_match(spark, lineitem, monkeypatch):
    specs = [
        M_out.OutlierSpec("l_extendedprice", "iqr", 1.5),
        M_out.OutlierSpec("l_quantity", "zscore", threshold=3.0),
    ]
    with monkeypatch.context() as m:
        _force_builtin(m)
        base = M_out.compute_bounds(lineitem, specs)
    _force_refined(monkeypatch)
    ref = M_out.compute_bounds(lineitem, specs)
    assert base.keys() == ref.keys()
    for c in base:
        for b, r in zip(base[c], ref[c]):
            assert math.isclose(b, r, rel_tol=0, abs_tol=1e-6), (c, base[c], ref[c])


def test_boxplot_refined_matches(spark, lineitem, monkeypatch):
    cols = ["l_quantity", "l_extendedprice"]
    with monkeypatch.context() as m:
        _force_builtin(m)
        base = {r["column"]: r.asDict() for r in M_vis.boxplot_stats(lineitem, cols).collect()}
    drv = {r["column"]: r.asDict() for r in M_vis.boxplot_stats(lineitem, cols).collect()}
    _force_refined(monkeypatch)
    ref = {r["column"]: r.asDict() for r in M_vis.boxplot_stats(lineitem, cols).collect()}
    assert base == ref == drv


def test_impute_median_refined_matches(spark, lineitem, monkeypatch):
    specs = [M_imp.ImputeSpec("l_discount", "median")]
    with monkeypatch.context() as m:
        _force_builtin(m)
        _, base = M_imp.impute(lineitem, specs)
    _force_refined(monkeypatch)
    _, ref = M_imp.impute(lineitem, specs)
    assert base.keys() == ref.keys()
    for c in base:
        assert math.isclose(float(base[c]), float(ref[c]), rel_tol=0, abs_tol=1e-9)


# -- one code path for every tier: NaN parity and Spark jobs per call ---------

_TIERS = ("driver", "builtin", "refined", "approx")


def _force_tier(monkeypatch, tier: str) -> bool:
    """Pin the tier the size gate picks on a small parquet input; returns the
    ``exact`` flag the call must pass (approx is exact=False)."""
    if tier == "builtin":
        _force_builtin(monkeypatch)
    elif tier == "refined":
        _force_refined(monkeypatch)
    return tier != "approx"


def _parquet_frame(spark, tmp_path, name, values):
    path = str(tmp_path / name)
    spark.createDataFrame([(v,) for v in values], "x double").write.parquet(path)
    return spark.read.parquet(path)


@pytest.mark.parametrize("tier", _TIERS)
def test_nan_is_missing_on_every_tier(spark, tmp_path, monkeypatch, tier):
    # the driver tier (pandas dropna) treats NaN as missing; every other tier
    # must give the same IQR bounds, median fill and profile quartiles
    nan = float("nan")
    df = _parquet_frame(spark, tmp_path, "nan", [1.0, 2.0, 3.0, 4.0, nan, nan, nan, None])
    specs = [M_out.OutlierSpec("x", "iqr", 1.5)]
    impute_specs = [M_imp.ImputeSpec("x", "median")]

    def stats(frame, exact):
        bounds = M_out.compute_bounds(frame, specs, exact=exact)["x"]
        fill = M_imp.impute(frame, impute_specs, exact=exact)[1]["x"]
        prof = M_prof.profile(frame, columns=["x"], exact=exact).first()
        return bounds, fill, (prof["q25"], prof["q50"], prof["q75"])

    if tier == "approx":
        # sketch answers are order statistics, not interpolated: compare with
        # the same tier over the column with its NaNs written as nulls
        nulls = _parquet_frame(spark, tmp_path, "nulls", [1.0, 2.0, 3.0, 4.0, None, None, None, None])
        expect = stats(nulls, exact=False)
    else:
        expect = stats(df, exact=True)
        assert expect == ((-0.5, 5.5), 2.5, (1.75, 2.5, 3.25))
    exact = _force_tier(monkeypatch, tier)
    assert stats(df, exact) == expect


def _jobs(spark, fn) -> int:
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    sc.setJobGroup("quantile-tier-jobs", "quantile-tier-jobs")
    try:
        bus.waitUntilEmpty()
        before = set(sc.statusTracker().getJobIdsForGroup("quantile-tier-jobs"))
        fn()
        bus.waitUntilEmpty()
        return len(set(sc.statusTracker().getJobIdsForGroup("quantile-tier-jobs")) - before)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


# Spark jobs per call: (compute_bounds with one IQR and one z-score spec,
# impute with a mean and a median spec, boxplot_stats). boxplot_stats has no
# approx mode. A statistic that leaves its caller's single agg shows up here.
_JOBS_PER_CALL = {
    "driver": (5, 5, 5),
    "builtin": (2, 2, 4),
    "refined": (10, 10, 12),
    "approx": (2, 2, None),
}


@pytest.mark.parametrize("tier", _TIERS)
def test_jobs_per_call_by_tier(spark, lineitem, monkeypatch, tier):
    exact = _force_tier(monkeypatch, tier)
    bounds_specs = [
        M_out.OutlierSpec("l_extendedprice", "iqr", 1.5),
        M_out.OutlierSpec("l_quantity", "zscore", threshold=3.0),
    ]
    impute_specs = [M_imp.ImputeSpec("l_quantity", "mean"), M_imp.ImputeSpec("l_discount", "median")]
    got = (
        _jobs(spark, lambda: M_out.compute_bounds(lineitem, bounds_specs, exact=exact)),
        _jobs(spark, lambda: M_imp.impute(lineitem, impute_specs, exact=exact)),
        _jobs(spark, lambda: M_vis.boxplot_stats(lineitem, ["l_quantity", "l_extendedprice"]))
        if exact
        else None,
    )
    assert got == _JOBS_PER_CALL[tier]
