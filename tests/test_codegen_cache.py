"""Generated-code reuse: the engine re-plans the same shapes on every tool
call and curate pass, so once a shape has run, running it again must not
recompile (session.get_spark sizes spark.sql.codegen.cache.maxEntries)."""

from pyspark.sql import functions as F

from analyst_toolkit_spark.session import codegen_stats

SHAPES = 120


def _run_shapes(spark):
    # each literal is inlined into the generated code: 120 distinct classes
    # at least, more than Spark's default cache of 100 entries holds
    for i in range(SHAPES):
        spark.range(4, numPartitions=1).select(
            (F.col("id") * F.lit(i + 1_000_003)).alias("x")
        ).where(F.col("x") > F.lit(-i)).collect()


def test_second_pass_over_repeated_shapes_compiles_nothing(spark):
    start = codegen_stats(spark)["compiles_total"]
    _run_shapes(spark)
    first = codegen_stats(spark)["compiles_total"]
    _run_shapes(spark)
    second = codegen_stats(spark)["compiles_total"]
    assert first - start > 100, "the shapes must outnumber Spark's default cache"
    assert second == first, f"{second - first} classes recompiled on the second pass"
