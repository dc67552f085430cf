import pytest

from analyst_toolkit_spark.ingest import load_table
from analyst_toolkit_spark.operators.validation import (
    ValidationConfig,
    run_validation,
    schema_check,
    validation_summary,
    violating_rows,
)
from tests.oracle import compare, duckdb_con


@pytest.fixture(scope="module")
def con(oracle_sf_dir):
    return duckdb_con(oracle_sf_dir)


def test_validation_basic(spark):
    # mirrors reference tests/test_validation.py:11-45 (FIXTURES.md 1.1)
    df = spark.createDataFrame(
        [(1, 25, "M"), (2, 150, "F"), (3, -3, "X"), (4, 40, None)],
        ["id", "age", "gender"],
    )
    cfg = ValidationConfig(
        expected_columns=["id", "age", "gender"],
        categorical_values={"gender": ["M", "F"]},
        numeric_ranges={"age": {"min": 0, "max": 120}},
    )
    res = run_validation(df, cfg)
    assert res["rules"]["range:age"]["violations"] == 2
    assert res["rules"]["categorical:gender"]["violations"] == 1  # null skipped
    assert res["rules"]["__any_rule__"]["violations"] == 2  # distinct rows 2,3 (row 3 fails both)
    assert not res["passed"]
    with pytest.raises(ValueError):
        run_validation(df, cfg, fail_on_error=True)


def test_schema_check(spark):
    df = spark.createDataFrame([(1, "a")], ["id", "name"])
    cfg = ValidationConfig(expected_columns=["id", "name", "missing"], expected_types={"id": "string"})
    res = schema_check(df, cfg)
    assert res["missing_columns"] == ["missing"]
    assert "id" in res["type_mismatches"] and not res["passed"]


def test_validation_summary_oracle(spark, oracle_sf_dir, con):
    df = load_table(spark, oracle_sf_dir, "orders")
    cfg = ValidationConfig(
        categorical_values={"o_orderstatus": ["O", "F"]},
        numeric_ranges={"o_totalprice": {"min": 0, "max": 300000}},
    )
    out = validation_summary(df, cfg)
    sql = """
    WITH v AS (
      SELECT (o_orderstatus NOT IN ('O','F') AND o_orderstatus IS NOT NULL) AS cat_v,
             (NOT (o_totalprice BETWEEN 0 AND 300000) AND o_totalprice IS NOT NULL) AS rng_v
      FROM orders)
    SELECT 'categorical:o_orderstatus' AS rule, CAST(sum(CASE WHEN cat_v THEN 1 ELSE 0 END) AS BIGINT) AS violations,
           count(*) AS rows, round(sum(CASE WHEN cat_v THEN 1 ELSE 0 END) * 100.0 / count(*), 6) AS coverage_pct FROM v
    UNION ALL
    SELECT 'range:o_totalprice', CAST(sum(CASE WHEN rng_v THEN 1 ELSE 0 END) AS BIGINT), count(*),
           round(sum(CASE WHEN rng_v THEN 1 ELSE 0 END) * 100.0 / count(*), 6) FROM v
    UNION ALL
    SELECT '__any_rule__', CAST(sum(CASE WHEN cat_v OR rng_v THEN 1 ELSE 0 END) AS BIGINT), count(*),
           round(sum(CASE WHEN cat_v OR rng_v THEN 1 ELSE 0 END) * 100.0 / count(*), 6) FROM v
    """
    compare(out, con, sql, "validation_summary")


def test_violating_rows_oracle(spark, oracle_sf_dir, con):
    df = load_table(spark, oracle_sf_dir, "orders")
    cfg = ValidationConfig(categorical_values={"o_orderstatus": ["O", "F"]})
    out = violating_rows(df, cfg).select("o_orderkey", "o_orderstatus")
    sql = """
      SELECT o_orderkey, o_orderstatus FROM orders
      WHERE o_orderstatus NOT IN ('O','F') AND o_orderstatus IS NOT NULL
    """
    compare(out, con, sql, "violating_rows")


def test_validation_single_pass(spark, oracle_sf_dir):
    df = load_table(spark, oracle_sf_dir, "orders")
    cfg = ValidationConfig(
        categorical_values={"o_orderstatus": ["O", "F"]},
        numeric_ranges={"o_totalprice": {"min": 0, "max": 300000}},
        non_null_columns=["o_custkey"],
    )
    plan = validation_summary(df, cfg)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1


def test_not_null_reads_nan_as_missing(spark, tmp_path):
    import pandas as pd

    path = str(tmp_path / "nan.parquet")
    spark.createDataFrame(
        [(1.0, "a"), (float("nan"), "NaN"), (None, None)], "x double, s string"
    ).write.parquet(path)
    df = spark.read.parquet(path)
    pdf = pd.read_parquet(path)
    cfg = ValidationConfig(non_null_columns=["x", "s"])
    rules = run_validation(df, cfg)["rules"]
    for c in ("x", "s"):
        assert rules[f"not_null:{c}"]["violations"] == int(pdf[c].isna().sum())
        assert violating_rows(df, cfg, f"not_null:{c}").count() == int(pdf[c].isna().sum())
    assert rules["not_null:x"]["violations"] == 2  # NaN and null; the string "NaN" is a value
