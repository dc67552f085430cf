"""M10 final audit tests (reference final_audit_producer.py:28-127 semantics)."""

import pytest
from pyspark.sql import Row

from analyst_toolkit_spark.operators import final_audit as M
from analyst_toolkit_spark.operators.validation import ValidationConfig


@pytest.fixture(scope="module")
def dirty(spark):
    return spark.createDataFrame(
        [
            Row(id="1", amount="10.5", junk="x", status="ok", note=None),
            Row(id="2", amount="20.0", junk="y", status="ok", note="n"),
            Row(id="3", amount="not-a-number", junk="z", status="BAD", note="n"),
        ]
    )


def test_strict_cast_all_or_nothing(spark, dirty):
    out, coerced, failed = M.strict_cast(dirty, {"id": "bigint", "amount": "double", "ghost": "int"})
    assert coerced == ["id"]  # amount has an unconvertible value -> untouched
    assert any(f.startswith("amount") for f in failed)
    assert any("ghost (missing)" in f for f in failed)
    assert dict(out.dtypes)["id"] == "bigint"
    assert dict(out.dtypes)["amount"] == "string"  # left untouched, not nulled


def test_strict_cast_noop_when_already_typed(spark):
    df = spark.createDataFrame([Row(a=1)])
    out, coerced, failed = M.strict_cast(df, {"a": "bigint"})
    assert coerced == ["a"] and not failed


def test_apply_final_edits(dirty):
    cfg = M.FinalAuditConfig(
        drop_columns=["junk", "nonexistent"],
        rename_columns={"note": "comment"},
        coerce_dtypes={"id": "bigint"},
    )
    out, log = M.apply_final_edits(dirty, cfg)
    assert "junk" not in out.columns and "comment" in out.columns
    actions = [e["action"] for e in log]
    assert actions == ["drop_columns", "rename_columns", "coerce_dtypes"]


def test_null_audit(dirty):
    rows = {r["column"]: r["null_count"] for r in M.null_audit(dirty, ["note", "id", "ghost"]).collect()}
    assert rows == {"note": 1, "id": 0}


def test_run_final_audit_certified(dirty):
    cfg = M.FinalAuditConfig(
        drop_columns=["junk"],
        coerce_dtypes={"id": "bigint"},
        certification=ValidationConfig(categorical_values={"status": ["ok", "BAD"]}),
        disallowed_null_columns=["id", "status"],
    )
    out, res = M.run_final_audit(dirty, cfg)
    assert res["certified"]
    assert res["null_audit_results"]["passed"]


def test_run_final_audit_gate_raises(dirty):
    cfg = M.FinalAuditConfig(
        certification=ValidationConfig(categorical_values={"status": ["ok"]}),
        disallowed_null_columns=["note"],
    )
    _, res = M.run_final_audit(dirty, cfg)
    assert not res["certified"]
    assert res["null_audit_results"]["failures"] == {"note": 1}
    with pytest.raises(ValueError):
        M.run_final_audit(dirty, cfg, fail_on_error=True)


def test_null_audit_reads_nan_as_missing(spark, tmp_path):
    import pandas as pd

    path = str(tmp_path / "nan.parquet")
    spark.createDataFrame(
        [(1.0, "a"), (float("nan"), "NaN"), (None, None)], "x double, s string"
    ).write.parquet(path)
    rows = {r["column"]: r["null_count"] for r in M.null_audit(spark.read.parquet(path), ["x", "s"]).collect()}
    pdf = pd.read_parquet(path)
    assert rows == {c: int(pdf[c].isna().sum()) for c in ("x", "s")} == {"x": 2, "s": 1}
