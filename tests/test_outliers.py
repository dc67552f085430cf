import math

import pytest
from pyspark.sql import functions as F

from analyst_toolkit_spark.ingest import load_table
from analyst_toolkit_spark.operators.outliers import (
    OutlierSpec,
    compute_bounds,
    detect_outliers,
    handle_outliers,
)
from tests.oracle import compare, duckdb_con


@pytest.fixture(scope="module")
def con(oracle_sf_dir):
    return duckdb_con(oracle_sf_dir)


def test_iqr_one_outlier(spark):
    # mirrors reference tests/test_outliers.py:11-55 (FIXTURES.md 1.2)
    df = spark.createDataFrame([(float(v),) for v in list(range(1, 10)) + [20]], ["val"])
    flagged, results = detect_outliers(df, [OutlierSpec("val", "iqr", 1.5)])
    rows = flagged.filter("val_iqr_outlier").collect()
    assert len(rows) == 1 and rows[0]["val"] == 20.0


def test_zscore_one_outlier(spark):
    df = spark.createDataFrame([(10.0,)] * 20 + [(100.0,)], ["val"])
    flagged, _ = detect_outliers(df, [OutlierSpec("val", "zscore", threshold=3.0)])
    rows = flagged.filter("val_zscore_outlier").collect()
    assert len(rows) == 1 and rows[0]["val"] == 100.0


def test_null_flags_false(spark):
    df = spark.createDataFrame([(1.0,), (None,), (2.0,), (3.0,), (4.0,), (100.0,)], "val double")
    flagged, _ = detect_outliers(df, [OutlierSpec("val", "iqr", 1.5)])
    vals = {r["val"]: r["val_iqr_outlier"] for r in flagged.collect()}
    assert vals[None] is False and vals[100.0] is True


def test_nan_is_not_an_outlier(spark, tmp_path):
    """NaN is missing, as in pandas' ``(s < lo) | (s > hi)``: Spark orders NaN
    above every value, so without the rule it is flagged above ``hi``, then
    clipped to ``hi`` or dropped."""
    path = str(tmp_path / "nan.parquet")
    vals = [1.0, 2.0, 3.0, 4.0, 100.0, float("nan"), None]
    spark.createDataFrame(list(enumerate(vals)), "i long, val double").write.parquet(path)
    df = spark.read.parquet(path)
    flagged, results = detect_outliers(df, [OutlierSpec("val", "iqr", 1.5)])
    flags = {r["i"]: r["val_iqr_outlier"] for r in flagged.collect()}
    assert flags == {0: False, 1: False, 2: False, 3: False, 4: True, 5: False, 6: False}

    clipped = {r["i"]: r["val"] for r in handle_outliers(flagged, results, "clip").collect()}
    assert math.isnan(clipped[5]) and clipped[6] is None
    assert clipped[4] == pytest.approx(results["val"]["upper"])

    kept = sorted(r["i"] for r in handle_outliers(flagged, results, "drop").collect())
    assert kept == [0, 1, 2, 3, 5, 6]

    means = {r["i"]: r["val"] for r in handle_outliers(flagged, results, "mean").collect()}
    assert means[4] == pytest.approx(2.5) and math.isnan(means[5])  # NaN stays out of the mean


def test_empty_df(spark):
    df = spark.createDataFrame([], "val double")
    flagged, _ = detect_outliers(df, [OutlierSpec("val", "iqr")])
    assert flagged.count() == 0


def test_handle_strategies(spark):
    df = spark.createDataFrame([(float(v),) for v in list(range(1, 10)) + [20]], ["val"])
    specs = [OutlierSpec("val", "iqr", 1.5)]
    flagged, results = detect_outliers(df, specs)

    dropped = handle_outliers(flagged, results, "drop")
    assert dropped.count() == 9 and "val_iqr_outlier" not in dropped.columns

    clipped = handle_outliers(flagged, results, "clip")
    assert clipped.agg(F.max("val")).collect()[0][0] == pytest.approx(results["val"]["upper"])

    means = handle_outliers(flagged, results, "mean")
    # outlier 20 replaced with mean of non-flagged values (1..9) = 5.0
    assert means.agg(F.max("val")).collect()[0][0] == pytest.approx(9.0)
    assert means.filter("val = 5.0").count() == 2

    const = handle_outliers(flagged, results, "constant", constant=-1.0)
    assert const.filter("val = -1.0").count() == 1


def test_iqr_oracle(spark, oracle_sf_dir, con):
    df = load_table(spark, oracle_sf_dir, "lineitem")
    flagged, _ = detect_outliers(df, [OutlierSpec("l_extendedprice", "iqr", 1.5)])
    out = flagged.agg(F.sum(F.col("l_extendedprice_iqr_outlier").cast("long")).alias("n_outliers"))
    sql = """
      WITH b AS (SELECT quantile_cont(l_extendedprice, 0.25) AS q1,
                        quantile_cont(l_extendedprice, 0.75) AS q3 FROM lineitem)
      SELECT CAST(sum(CASE WHEN l_extendedprice < q1 - 1.5*(q3-q1)
                        OR l_extendedprice > q3 + 1.5*(q3-q1) THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      FROM lineitem, b
    """
    compare(out, con, sql, "iqr_oracle")


def test_zscore_oracle(spark, oracle_sf_dir, con):
    df = load_table(spark, oracle_sf_dir, "orders")
    flagged, _ = detect_outliers(df, [OutlierSpec("o_totalprice", "zscore", threshold=3.0)])
    out = (
        flagged.filter("o_totalprice_zscore_outlier")
        .select("o_orderkey", "o_totalprice")
    )
    sql = """
      WITH b AS (SELECT avg(o_totalprice) AS m, stddev_samp(o_totalprice) AS s FROM orders)
      SELECT o_orderkey, o_totalprice FROM orders, b
      WHERE o_totalprice < m - 3*s OR o_totalprice > m + 3*s
    """
    compare(out, con, sql, "zscore_oracle")


def test_clip_oracle(spark, oracle_sf_dir, con):
    df = load_table(spark, oracle_sf_dir, "lineitem")
    flagged, results = detect_outliers(df, [OutlierSpec("l_extendedprice", "iqr", 1.5)])
    out = handle_outliers(flagged, results, "clip").agg(
        F.round(F.sum("l_extendedprice"), 2).alias("sum_clipped")
    )
    sql = """
      WITH b AS (SELECT quantile_cont(l_extendedprice, 0.25) AS q1,
                        quantile_cont(l_extendedprice, 0.75) AS q3 FROM lineitem)
      SELECT round(sum(CASE
          WHEN l_extendedprice < q1 - 1.5*(q3-q1) THEN q1 - 1.5*(q3-q1)
          WHEN l_extendedprice > q3 + 1.5*(q3-q1) THEN q3 + 1.5*(q3-q1)
          ELSE l_extendedprice END), 2) AS sum_clipped
      FROM lineitem, b
    """
    compare(out, con, sql, "clip_oracle")
