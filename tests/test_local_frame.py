"""Driver-held rows enter Spark through one helper, ``sources.io.local_frame``,
as an Arrow local relation: the frame it returns collects with no Spark job
and no Python worker, and holds what ``createDataFrame`` of the same list
held, with the same schema and the same failures on bad input.
"""

import ast
import math
import pathlib

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from analyst_toolkit_spark.llm import dedup as D
from analyst_toolkit_spark.llm import pack as P
from analyst_toolkit_spark.llm import similarity as SIM
from analyst_toolkit_spark.operators import visuals as V
from analyst_toolkit_spark.operators.dictionary import data_dictionary
from analyst_toolkit_spark.operators.final_audit import null_audit
from analyst_toolkit_spark.operators.normalize import apply_fuzzy_correction_distributed
from analyst_toolkit_spark.operators.profile import profile
from analyst_toolkit_spark.sources import io as S_io

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "analyst_toolkit_spark"


def test_create_dataframe_only_in_local_frame():
    found = []
    for path in PACKAGE.rglob("*.py"):
        tree = ast.parse(path.read_text())
        allowed = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
                allowed |= {id(n) for n in ast.walk(node)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and not (path.name == "io.py" and id(node) in allowed)
            ):
                found.append(f"{path.relative_to(PACKAGE.parent).as_posix()}:{node.lineno}")
    assert found == []


def _jobs(spark, fn):
    """(``fn()``, Spark jobs it ran)."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    tracker = sc.statusTracker()
    sc.setJobGroup("local-frame-jobs", "local-frame-jobs")
    try:
        bus.waitUntilEmpty()
        before = set(tracker.getJobIdsForGroup("local-frame-jobs"))
        out = fn()
        bus.waitUntilEmpty()
        return out, len(set(tracker.getJobIdsForGroup("local-frame-jobs")) - before)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _leaves(df):
    """(class name, output column names) of each leaf of the analyzed plan."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    out = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        cols = leaf.output()
        out.append((leaf.getClass().getSimpleName(), tuple(cols.apply(j).name() for j in range(cols.size()))))
    return out


def _assert_local(spark, df):
    """``df`` reads only a local relation, and collecting it — whole, under
    a limit or projected — runs no Spark job."""
    assert [cls for cls, _ in _leaves(df)] == ["LocalRelation"]
    _, jobs = _jobs(spark, lambda: (df.collect(), df.limit(2).collect(), df.select(df.columns[0]).collect()))
    assert jobs == 0


def _plain(rows):
    """Rows as tuples with NaN replaced by a comparable marker."""
    return [tuple("NaN" if isinstance(v, float) and math.isnan(v) else v for v in r) for r in rows]


_SCHEMA = "i int, n long, x double, s string"


@pytest.mark.parametrize(
    "rows",
    [
        [(1, 2, 1.5, "a"), (None, None, None, None), (3, 4, float("nan"), "c")],
        [],
        [{"i": 1, "x": 2.0}, {"s": "z", "n": 5}],  # by name; a missing key is null
        [Row(i=1, n=2, x=0.5, s="r"), Row(i=None, n=None, x=float("nan"), s=None)],
    ],
    ids=["none-nan", "empty", "dicts", "rows"],
)
def test_local_frame_matches_list_path(spark, rows):
    got = S_io.local_frame(spark, rows, _SCHEMA)
    want = spark.createDataFrame(rows, _SCHEMA)
    assert got.schema == want.schema
    assert _plain(got.collect()) == _plain(want.collect())
    _assert_local(spark, got)


def test_local_frame_struct_schema(spark):
    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("v", T.ArrayType(T.LongType()), True),
            T.StructField("b", T.BinaryType(), True),
        ]
    )
    rows = [("a", [1, None, 3], b"\x00\x01"), ("b", None, None)]
    got = S_io.local_frame(spark, rows, schema)
    assert got.schema == spark.createDataFrame(rows, schema).schema == schema
    assert got.collect() == spark.createDataFrame(rows, schema).collect()


@pytest.mark.parametrize(
    "rows",
    [
        [("x", 1, 1.0, "a")],  # a string in an int field
        [(1, 1.5, 1.0, "a")],  # a float in a long field (Arrow would truncate it)
        [(1, np.int64(2), 1.0, "a")],  # numpy scalars are not Python scalars
        [(1, 2, np.float64(2.5), "a")],
        [(1, 2, 1.0)],  # too few fields
    ],
    ids=["str-in-int", "float-in-long", "numpy-int64", "numpy-float64", "short-row"],
)
def test_local_frame_rejects_what_the_list_path_rejects(spark, rows):
    with pytest.raises(Exception) as want:
        spark.createDataFrame(rows, _SCHEMA)
    with pytest.raises(Exception) as got:
        S_io.local_frame(spark, rows, _SCHEMA)
    assert type(got.value) is type(want.value)


def test_local_frame_rejects_non_str_in_string_field(spark):
    # the list path turned it into the JVM's toString of the value (True
    # became "true"); Arrow refuses it
    with pytest.raises(TypeError):
        S_io.local_frame(spark, [(1, 2, 1.0, 5)], _SCHEMA)


def test_local_frame_rejects_null_in_non_nullable_field(spark):
    schema = T.StructType([T.StructField("a", T.LongType(), False)])
    with pytest.raises(ValueError, match="not nullable"):
        S_io.local_frame(spark, [(None,)], schema)


def test_local_frame_above_local_relation_threshold(spark):
    # past Spark's threshold the Arrow batches stay in a JVM-side RDD; the
    # values are the same
    rows = [(i, i * 2, float(i), str(i)) for i in range(50)]
    old = spark.conf.get("spark.sql.execution.arrow.localRelationThreshold")
    spark.conf.set("spark.sql.execution.arrow.localRelationThreshold", "0")
    try:
        df = S_io.local_frame(spark, rows, _SCHEMA)
    finally:
        spark.conf.set("spark.sql.execution.arrow.localRelationThreshold", old)
    assert [cls for cls, _ in _leaves(df)] != ["LocalRelation"]
    assert sorted(df.collect()) == sorted(spark.createDataFrame(rows, _SCHEMA).collect())


@pytest.fixture(scope="module")
def small(spark):
    return S_io.local_frame(
        spark,
        [(i, float(i % 7) + 0.5 * i, "abc"[i % 3]) for i in range(30)],
        "id long, x double, s string",
    )


#: site -> the frame it returns; each is the local relation itself.
_DIRECT_SITES = {
    "profile": lambda spark, df: profile(df),
    "data_dictionary": lambda spark, df: data_dictionary(df),
    "null_audit-empty": lambda spark, df: null_audit(df, ["absent"]),
    "histogram": lambda spark, df: V.histogram(df, "x", bins=5),
    "histogram-empty": lambda spark, df: V.histogram(df.filter("x < 0"), "x"),
    "boxplot_stats": lambda spark, df: V.boxplot_stats(df, ["x"]),
    "kde_grid": lambda spark, df: V.kde_grid(df, "x", grid_points=8),
    "kde_grid-empty": lambda spark, df: V.kde_grid(df.filter("x < 0"), "x"),
    "dtype_composition": lambda spark, df: V.dtype_composition(df),
    "histogram_pair": lambda spark, df: V.histogram_pair(df, df.filter("x > 3"), "x", bins=4)[1],
    "histogram_pair-empty": lambda spark, df: V.histogram_pair(df.filter("x < 0"), df.filter("x < 0"), "x")[0],
    "connected_components-driver-tier": lambda spark, df: D.connected_components(
        spark.createDataFrame([(i, i + 1) for i in range(10)], ["id_a", "id_b"])
    ),
}


@pytest.mark.parametrize("site", sorted(_DIRECT_SITES))
def test_driver_result_is_local_relation(spark, small, site):
    _assert_local(spark, _DIRECT_SITES[site](spark, small))


def test_embedded_local_frames(spark, small):
    """Sites whose local frame is joined into a distributed plan: the
    driver-built side is a local relation leaf."""
    fuzzy = apply_fuzzy_correction_distributed(small, "s", ["abd", "xyz"])
    assert ("LocalRelation", ("master",)) in _leaves(fuzzy)

    nums = spark.range(40).selectExpr("id", "id % 5 AS n", "CAST(id % 3 AS STRING) AS grp")
    flat = P.with_global_cumsum(nums, "n", "id", out_col="c")
    assert ("LocalRelation", (P._PID, P._OFF)) in _leaves(flat)
    grouped = P.with_global_cumsum(nums, "n", "id", out_col="c", group_col="grp")
    assert ("LocalRelation", (P._PID, "grp", P._OFF)) in _leaves(grouped)

    vec = [[math.sin(i * 31 + j) for j in range(4)] for i in range(3)]
    bench = spark.createDataFrame(list(enumerate(vec)), "vec_id long, embedding array<double>")
    corpus = spark.createDataFrame([(10 + i, v) for i, v in enumerate(vec)], "vec_id long, embedding array<double>")
    exposure = SIM.semantic_decon_exposure(corpus, bench, threshold=0.999)
    assert ("LocalRelation", ("__i", "vec_id")) in _leaves(exposure)
    assert sorted(r["n_contaminated"] for r in exposure.collect()) == [1, 1, 1]
