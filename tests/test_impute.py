import pytest
from pyspark.sql import functions as F

from analyst_toolkit_spark.ingest import load_table
from analyst_toolkit_spark.operators.impute import ImputeSpec, impute, mode_values
from tests.oracle import compare, duckdb_con


@pytest.fixture(scope="module")
def con(oracle_sf_dir):
    return duckdb_con(oracle_sf_dir)


def test_impute_basic(spark):
    df = spark.createDataFrame(
        [(1.0, 1.0, "a"), (2.0, 2.0, "b"), (None, None, None), (3.0, 7.0, "b")],
        "num_mean double, num_median double, cat_mode string",
    )
    out, fills = impute(
        df,
        [
            ImputeSpec("num_mean", "mean"),
            ImputeSpec("num_median", "median"),
            ImputeSpec("cat_mode", "mode"),
        ],
    )
    assert fills["num_mean"] == pytest.approx(2.0)
    assert fills["num_median"] == pytest.approx(2.0)
    assert fills["cat_mode"] == "b"
    assert out.filter("num_mean IS NULL OR num_median IS NULL OR cat_mode IS NULL").count() == 0


@pytest.mark.parametrize("strategy", ["mean", "median", "mode"])
def test_impute_reads_nan_as_missing(spark, tmp_path, strategy):
    """NaN in a double column is missing, as pandas reads it: the statistic
    skips it and the fill replaces it like a null. Oracle: pandas
    ``s.fillna(s.<strategy>())`` on the same parquet column."""
    path = str(tmp_path / "nan.parquet")
    vals = [1.0, 2.0, float("nan"), None, 6.0, 2.0, float("nan")]
    spark.createDataFrame(list(enumerate(vals)), "i long, x double").write.parquet(path)
    df = spark.read.parquet(path)
    s = df.orderBy("i").toPandas()["x"]
    want = s.fillna({"mean": s.mean(), "median": s.median(), "mode": s.mode()[0]}[strategy])
    out, fills = impute(df, [ImputeSpec("x", strategy)])
    got = [r["x"] for r in out.orderBy("i").collect()]
    assert got == pytest.approx(want.tolist())


def test_mode_tie_break_smallest(spark):
    # pandas mode()[0] on tie = smallest value (impute_data.py:53-56)
    df = spark.createDataFrame([("b",), ("a",), ("b",), ("a",), ("c",)], ["x"])
    assert mode_values(df, ["x"])["x"] == "a"


def test_mode_tie_break_numeric_not_lexicographic(spark):
    # numeric ties must compare NATIVELY: 2 < 10 even though '10' < '2'
    df = spark.createDataFrame([(10,), (2,), (10,), (2,), (7,)], "x bigint")
    assert mode_values(df, ["x"])["x"] == 2
    dfd = spark.createDataFrame([(10.5,), (2.5,), (10.5,), (2.5,)], "x double")
    assert mode_values(dfd, ["x"])["x"] == 2.5
    # string columns that LOOK numeric keep lexicographic (pandas) order
    dfs = spark.createDataFrame([("10",), ("2",), ("10",), ("2",)], "x string")
    assert mode_values(dfs, ["x"])["x"] == "10"


def test_impute_median_int_upcasts_to_double(spark):
    # pandas fillna(median) upcasts int → float; a .5 median must not truncate
    df = spark.createDataFrame([(1,), (2,), (3,), (4,), (None,)], "x bigint")
    out, fills = impute(df, [ImputeSpec("x", "median")])
    assert fills["x"] == pytest.approx(2.5)
    assert dict(out.dtypes)["x"] == "double"
    assert out.filter("x = 2.5").count() == 1


def test_impute_constant_timestamp(spark):
    df = spark.createDataFrame([("2020-01-01 00:00:00",), (None,)], ["ts"]).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out, fills = impute(df, [ImputeSpec("ts", "constant", "1900-01-01 00:00:00")])
    assert out.filter("ts IS NULL").count() == 0
    assert out.filter(F.year("ts") == 1900).count() == 1


def test_impute_mean_oracle(spark, oracle_sf_dir, con):
    # deterministic null injection (custkey % 10 = 0), then mean-impute —
    # expressible identically in DuckDB (FIXTURES.md §4 imputation binding)
    df = load_table(spark, oracle_sf_dir, "customer").withColumn(
        "c_acctbal", F.when(F.col("c_custkey") % 10 == 0, None).otherwise(F.col("c_acctbal"))
    )
    out, _ = impute(df, [ImputeSpec("c_acctbal", "mean")])
    res = out.agg(F.round(F.sum("c_acctbal"), 2).alias("sum_bal"), F.count("c_acctbal").alias("cnt"))
    sql = """
      WITH t AS (SELECT CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_acctbal END AS b FROM customer),
           m AS (SELECT avg(b) AS mb FROM t)
      SELECT round(sum(coalesce(b, mb)), 2) AS sum_bal, count(coalesce(b, mb)) AS cnt FROM t, m
    """
    compare(res, con, sql, "impute_mean")


def test_impute_mode_oracle(spark, oracle_sf_dir, con):
    df = load_table(spark, oracle_sf_dir, "customer").withColumn(
        "c_mktsegment", F.when(F.col("c_custkey") % 7 == 0, None).otherwise(F.col("c_mktsegment"))
    )
    out, _ = impute(df, [ImputeSpec("c_mktsegment", "mode")])
    res = out.groupBy(F.col("c_mktsegment").alias("seg")).agg(F.count(F.lit(1)).alias("cnt"))
    sql = """
      WITH t AS (SELECT CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_mktsegment END AS s FROM customer),
           m AS (SELECT s FROM t WHERE s IS NOT NULL GROUP BY s ORDER BY count(*) DESC, s ASC LIMIT 1)
      SELECT coalesce(t.s, m.s) AS seg, count(*) AS cnt FROM t, m GROUP BY 1
    """
    compare(res, con, sql, "impute_mode")
