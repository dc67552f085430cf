"""Edge-shape hardening: every operator must survive empty and 1-row frames
(the shapes a driver smoke-check or a filtered-to-nothing partition produces).
"""

import pytest
from pyspark.sql import Row

from analyst_toolkit_spark.operators import (
    diff as M_diff,
    dictionary as M_dict,
    drift as M_drift,
    duplicates as M_dup,
    final_audit as M_fa,
    impute as M_imp,
    normalize as M_norm,
    outliers as M_out,
    profile as M_prof,
    validation as M_val,
    visuals as M_vis,
)
from analyst_toolkit_spark.operators.validation import ValidationConfig


@pytest.fixture(scope="module")
def empty(spark):
    return spark.createDataFrame([], "k long, s string, v double")


@pytest.fixture(scope="module")
def one(spark):
    return spark.createDataFrame([Row(k=1, s="a", v=2.0)])


@pytest.mark.parametrize("fixture", ["empty", "one"])
def test_profile_edges(fixture, request):
    df = request.getfixturevalue(fixture)
    rows = M_prof.profile(df).collect()
    assert len(rows) == 3
    assert M_prof.duplicate_row_count(df).first()["dup_rows"] in (0, 0)
    assert M_prof.value_counts(df, "s").count() == (0 if fixture == "empty" else 1)


@pytest.mark.parametrize("fixture", ["empty", "one"])
def test_validation_edges(fixture, request):
    df = request.getfixturevalue(fixture)
    cfg = ValidationConfig(categorical_values={"s": ["a"]}, numeric_ranges={"v": {"min": 0}}, non_null_columns=["k"])
    res = M_val.run_validation(df, cfg)
    assert res["passed"]


@pytest.mark.parametrize("fixture", ["empty", "one"])
def test_outlier_impute_edges(fixture, request):
    df = request.getfixturevalue(fixture)
    flagged, results = M_out.detect_outliers(df, [M_out.OutlierSpec("v", "iqr"), M_out.OutlierSpec("v", "zscore")])
    assert flagged.count() == df.count()
    out = M_out.handle_outliers(flagged, results, "clip")
    assert out.count() == df.count()
    healed, fills = M_imp.impute(df, [M_imp.ImputeSpec("v", "mean"), M_imp.ImputeSpec("s", "mode")])
    assert healed.count() == df.count()


@pytest.mark.parametrize("fixture", ["empty", "one"])
def test_normalize_edges(fixture, request):
    df = request.getfixturevalue(fixture)
    out = M_norm.standardize_text(df, ["s"])
    out = M_norm.remap_values(out, "s", {"a": "b"})
    out, corr = M_norm.apply_fuzzy_correction(out, "s", ["b"], cutoff=80)
    parsed, nat = M_norm.parse_datetime(out.withColumn("d", out.s), "d", errors="coerce")
    coerced, info = M_norm.coerce_numeric(out, "s", "double")
    assert parsed.count() == df.count()


@pytest.mark.parametrize("fixture", ["empty", "one"])
def test_dup_diff_dict_edges(fixture, request, spark):
    df = request.getfixturevalue(fixture)
    from analyst_toolkit_spark.ingest import with_row_id

    rid = with_row_id(df)
    assert M_dup.flag_duplicates(rid, ["k"]).count() == df.count()
    assert M_dup.drop_duplicates_keep_order(rid, ["k"]).count() == df.count()
    assert M_diff.row_diff(rid, rid).count() == 0
    assert M_diff.dropped_rows(rid, rid).count() == 0
    d = {r["column"]: r for r in M_dict.data_dictionary(df).collect()}
    assert set(d) == {"k", "s", "v"}


@pytest.mark.parametrize("fixture", ["empty", "one"])
def test_visuals_final_audit_edges(fixture, request):
    df = request.getfixturevalue(fixture)
    assert M_vis.histogram(df, "v").count() in (0, 30)
    M_vis.boxplot_stats(df, ["v"]).collect()
    M_vis.kde_grid(df, "v").collect()  # degenerate → empty grid
    out, res = M_fa.run_final_audit(
        df,
        M_fa.FinalAuditConfig(coerce_dtypes={"s": "string", "k": "int"}, disallowed_null_columns=["k"]),
    )
    assert out.count() == df.count()


def test_drift_empty_target(spark, empty, one):
    res = M_drift.numeric_drift(one, empty).collect()
    assert all(r["target_mean"] is None for r in res)
