import pytest
from pyspark.sql import functions as F

from analyst_toolkit_spark.ingest import load_table
from analyst_toolkit_spark.functions import stats as S
from analyst_toolkit_spark.operators.profile import (
    column_stats,
    correlation_matrix,
    duplicate_row_count,
    profile,
    value_counts,
)
from tests.oracle import compare, duckdb_con


@pytest.fixture(scope="module")
def con(oracle_sf_dir):
    return duckdb_con(oracle_sf_dir)


def _round6(df, cols):
    out = df
    for c in cols:
        out = out.withColumn(c, F.round(F.col(c), 6))
    return out


def test_profile_matches_pandas_semantics(spark):
    import pandas as pd

    pdf = pd.DataFrame({"x": [1.0, 2.0, 3.0, 10.0, None], "s": ["a", "b", "b", None, "a"]})
    df = spark.createDataFrame(pdf)
    out = {r["column"]: r.asDict() for r in profile(df).collect()}
    x = out["x"]
    assert x["count"] == 5 and x["nulls"] == 1 and x["n_unique"] == 4
    assert abs(x["mean"] - pdf["x"].mean()) < 1e-9
    assert abs(x["stddev"] - pdf["x"].std()) < 1e-9
    assert abs(x["skewness"] - pdf["x"].skew()) < 1e-9
    assert abs(x["kurtosis"] - pdf["x"].kurt()) < 1e-9
    assert abs(x["q25"] - pdf["x"].quantile(0.25)) < 1e-9
    assert abs(x["q50"] - pdf["x"].quantile(0.5)) < 1e-9
    s = out["s"]
    assert s["nulls"] == 1 and s["n_unique"] == 2 and s["mean"] is None


def test_profile_scan_count(spark, sf_dir, monkeypatch):
    from analyst_toolkit_spark.functions import stats as S

    df = load_table(spark, sf_dir, "lineitem")
    # tiny input (driver tier): the result is a local relation — the heavy
    # work happened in ONE bounded Arrow collect, no distributed agg at all
    qe = profile(df, exact=True)._jdf.queryExecution()
    assert qe.analyzed().getClass().getSimpleName() == "LocalRelation"
    assert "Scan parquet" not in qe.executedPlan().toString()
    # distributed exact mode: two scans — stats agg + distinct-count agg
    # (kept apart so countDistinct's EXPAND rewrite never multiplies the
    # percentile inputs)
    monkeypatch.setattr(S, "QUANTILE_DRIVER_THRESHOLD_BYTES", 0)
    plan = profile(df, exact=True)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 2
    # approx mode (sketch aggregates, no EXPAND): single scan
    plan = profile(df, exact=False)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1


def nan_frame(spark, tmp_path, monkeypatch, tier):
    """A parquet double column ``[1.0, NaN, null, 3.0]`` on the given tier:
    the driver tier by its size, the Spark tier with the size gate shut."""
    path = str(tmp_path / "nan.parquet")
    spark.createDataFrame([(1.0,), (float("nan"),), (None,), (3.0,)], "x double").write.parquet(path)
    if tier == "spark":
        monkeypatch.setattr(S, "QUANTILE_DRIVER_THRESHOLD_BYTES", -1)
    return spark.read.parquet(path)


@pytest.mark.parametrize("tier", ["driver", "spark"])
def test_column_stats_and_profile_read_nan_as_missing(spark, tmp_path, monkeypatch, tier):
    df = nan_frame(spark, tmp_path, monkeypatch, tier)
    assert column_stats(df) == [
        {"column": "x", "dtype": "double", "count": 4, "nulls": 2, "n_unique": 2, "min": 1.0, "max": 3.0}
    ]
    p = profile(df).first()
    assert (p["count"], p["nulls"], p["null_pct"], p["n_unique"]) == (4, 2, 0.5, 2)
    assert (p["mean"], p["min"], p["max"], p["q50"]) == (2.0, 1.0, 3.0, 2.0)


def test_profile_oracle(spark, oracle_sf_dir, con):
    df = load_table(spark, oracle_sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    out = profile(df, columns=cols)
    out = _round6(out, ["null_pct", "mean", "stddev", "q25", "q50", "q75", "skewness", "kurtosis"])
    sql = " UNION ALL ".join(
        f"""
        SELECT '{c}' AS column, count(*) AS count,
               count(*) - count({c}) AS nulls,
               round((count(*) - count({c})) * 1.0 / count(*), 6) AS null_pct,
               count(DISTINCT {c}) AS n_unique,
               round(avg({c}), 6) AS mean, round(stddev_samp({c}), 6) AS stddev,
               CAST(min({c}) AS DOUBLE) AS min, CAST(max({c}) AS DOUBLE) AS max,
               round(quantile_cont({c}, 0.25), 6) AS q25,
               round(quantile_cont({c}, 0.5), 6) AS q50,
               round(quantile_cont({c}, 0.75), 6) AS q75,
               round(skewness({c}), 6) AS skewness, round(kurtosis({c}), 6) AS kurtosis
        FROM lineitem"""
        for c in cols
    )
    compare(out, con, sql, "profile")


def test_duplicate_row_count_oracle(spark, oracle_sf_dir, con):
    df = load_table(spark, oracle_sf_dir, "lineitem")
    out = duplicate_row_count(df, ["l_orderkey", "l_partkey"])
    sql = """
        SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS dup_rows, count(*) AS dup_groups
        FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey, l_partkey HAVING count(*) > 1)
    """
    compare(out, con, sql, "dup_count")


def test_value_counts_oracle(spark, oracle_sf_dir, con):
    df = load_table(spark, oracle_sf_dir, "customer")
    out = value_counts(df, "c_mktsegment", dropna=False)
    sql = "SELECT c_mktsegment AS value, count(*) AS count FROM customer GROUP BY c_mktsegment"
    compare(out, con, sql, "value_counts")


def test_correlation_oracle(spark, oracle_sf_dir, con):
    df = load_table(spark, oracle_sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    out = correlation_matrix(df, cols).withColumn("corr", F.round("corr", 6))
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i:]]
    sql = " UNION ALL ".join(
        f"SELECT '{a}' AS col_x, '{b}' AS col_y, round(corr({a}, {b}), 6) AS corr FROM lineitem"
        for a, b in pairs
    )
    compare(out, con, sql, "corr")


def test_diagnostics_report_contract(spark):
    from pyspark.sql import Row

    from analyst_toolkit_spark.operators.profile import diagnostics_report

    rows = [Row(id=i, name=f"n{i}", seg=["A", "B"][i % 2], bal=float(i) if i % 4 else None) for i in range(60)]
    rows += rows[:3]  # duplicates
    df = spark.createDataFrame(rows)
    rep = diagnostics_report(df, expected_dtypes={"id": "string"}, high_cardinality_threshold=10)

    schema = {r["column"]: r for r in rep["schema"]}
    assert "Unexpected Type" in schema["id"]["audit_remarks"]
    assert schema["bal"]["missing_count"] == 15 + 1  # i%4==0 nulls incl dup of i=0
    assert [h["column"] for h in rep["high_cardinality"]] == ["name"]
    assert rep["duplicate_summary"]["duplicate_rows"] == 6  # 3 pairs, keep=False
    assert rep["duplicated_rows_preview"].count() <= 5
    assert rep["shape"] == {"rows": 63, "columns": 4}
    assert {d["column"] for d in rep["describe"]} == {"id", "bal"}
    assert rep["size"]["estimated_bytes"] > 0
