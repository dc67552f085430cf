"""The engine's Spark configuration and its environment surface.

``session.get_spark`` leaves AQE, partition sizing, parquet pushdown, the I/O
codec and the streaming state-store provider on Spark's defaults. The first
test pins the effective value of each, so a pyspark upgrade that moves one
fails here instead of silently changing plans. The last two keep the set of
``SPARK_GRAFT_*`` settings the engine reads from growing back, and README's
Configuration table equal to the settings the engine reads.
"""

import ast
import pathlib
import re

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "analyst_toolkit_spark"

#: Deployment settings: cores and driver heap.
KEPT_SETTINGS = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"}

SQL_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    ),
}

SQL_BYTE_DEFAULTS = {
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": 64 << 20,
    "spark.sql.files.maxPartitionBytes": 128 << 20,
}


@pytest.mark.parametrize("key", sorted(SQL_DEFAULTS))
def test_sql_default_relied_on(spark, key):
    assert spark.conf.get(key) == SQL_DEFAULTS[key]


@pytest.mark.parametrize("key", sorted(SQL_BYTE_DEFAULTS))
def test_sql_byte_default_relied_on(spark, key):
    # An unset byte conf reads back as "67108864b", a set one as "64m".
    to_bytes = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes
    assert to_bytes(spark.conf.get(key)) == SQL_BYTE_DEFAULTS[key]


def test_io_codec_default_relied_on(spark):
    # spark.io.compression.codec is a core conf: spark.conf.get raises when it
    # is unset, so resolve the codec Spark builds from the context's conf.
    conf = spark.sparkContext._jsc.sc().conf()
    codec = spark._jvm.org.apache.spark.io.CompressionCodec.createCodec(conf)
    assert codec.getClass().getName() == "org.apache.spark.io.LZ4CompressionCodec"


def test_no_new_spark_graft_settings():
    found = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        for name in re.findall(r"SPARK_GRAFT_[A-Z0-9_]+", path.read_text()):
            found.setdefault(name, []).append(path.relative_to(PACKAGE.parent).as_posix())
    assert set(found) - KEPT_SETTINGS == set(), {
        k: v for k, v in found.items() if k not in KEPT_SETTINGS
    }


def test_readme_configuration_lists_every_setting():
    setting = re.compile(r"(ANALYST|SPARK_GRAFT)_[A-Z0-9_]+")
    read = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Constant) and isinstance(node.value, str) and setting.fullmatch(node.value):
                read.add(node.value)
    readme = ROOT.joinpath("README.md").read_text()
    section = readme.split("\n## Configuration\n", 1)[1].split("\n## ", 1)[0]
    listed = set(re.findall(r"^\| `([A-Z0-9_]+)` \|", section, re.M))
    assert listed == read, {"undocumented": read - listed, "not read": listed - read}
