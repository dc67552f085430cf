"""Data dictionary (F11/F12) + infer_configs + auto_heal tests."""

import pytest
import yaml
from pyspark.sql import Row

from analyst_toolkit_spark.operators import dictionary as M_dict
from analyst_toolkit_spark.operators.infer import infer_configs
from analyst_toolkit_spark.plans import config as C
from tests.test_profile import nan_frame


def test_semantic_type_heuristic():
    st = M_dict.semantic_type
    assert st("user_id", "string", 100, 100) == "identifier"
    assert st("id", "bigint", 100, 100) == "identifier"
    assert st("flag", "boolean", 10, 2) == "boolean"
    assert st("created", "timestamp", 10, 10) == "datetime"
    assert st("n", "bigint", 100, 50) == "integer"
    assert st("x", "double", 100, 90) == "numeric"
    assert st("empty", "string", 0, 0) == "unknown"
    # bounded-cardinality rule: nunique <= min(20, max(5, n//2))
    assert st("seg", "string", 100, 5) == "categorical"
    assert st("seg", "string", 100, 21) == "text"
    assert st("capture_date", "string", 100, 99) == "datetime_like_text"
    assert st("comment", "string", 100, 99) == "text"


@pytest.fixture(scope="module")
def sample(spark):
    rows = [
        Row(tag_id=f"t{i}", species=["Adelie", "Gentoo"][i % 2], mass=float(3000 + i),
            visit_date=f"2021-{1 + i % 12:02d}-{1 + i % 28:02d}",  # 30 distinct dates
            note=None if i % 3 == 0 else f"note {i}")
        for i in range(30)
    ]
    return spark.createDataFrame(rows)


def test_data_dictionary(sample):
    d = {r["column"]: r.asDict() for r in M_dict.data_dictionary(sample).collect()}
    assert d["tag_id"]["semantic_type"] == "identifier"
    assert d["species"]["semantic_type"] == "categorical"
    assert d["mass"]["semantic_type"] == "numeric"
    assert d["visit_date"]["semantic_type"] == "datetime_like_text"
    assert d["note"]["null_count"] == 10
    # F12: first distinct values in ingest order
    assert d["species"]["examples"].startswith("Adelie, Gentoo")
    assert d["tag_id"]["examples"] == "t0, t1, t2, t3, t4"


@pytest.mark.parametrize("tier", ["driver", "spark"])
def test_dictionary_and_infer_read_nan_as_missing(spark, tmp_path, monkeypatch, tier):
    df = nan_frame(spark, tmp_path, monkeypatch, tier)
    d = M_dict.data_dictionary(df).first()
    assert (d["null_count"], d["null_pct"], d["n_unique"]) == (2, 50.0, 2)
    rules = yaml.safe_load(infer_configs(df, modules=["validation"])["validation"])
    ranges = rules["validation"]["schema_validation"]["rules"]["numeric_ranges"]
    assert ranges == {"x": {"min": 1.0, "max": 3.0}}


def test_example_values_order(spark):
    df = spark.createDataFrame([Row(v=x) for x in ["b", "b", "a", "c", "a", "d"]])
    ex = M_dict.example_values(df, ["v"], limit=3)
    assert ex["v"] == ["b", "a", "c"]


def test_infer_configs_loadable(sample):
    configs = infer_configs(sample)
    assert set(configs) == {"validation", "normalization", "duplicates", "outliers", "imputation", "final_audit"}

    vcfg, fail = C.validation_config(yaml.safe_load(configs["validation"]))
    assert vcfg.expected_columns == sample.columns
    assert vcfg.expected_types["species"] == "string"  # object -> string round-trip
    assert "species" in vcfg.categorical_values
    assert "mass" in vcfg.numeric_ranges
    assert "tag_id" not in vcfg.numeric_ranges and not fail

    n = C.normalization_rules(yaml.safe_load(configs["normalization"]))
    assert "species" in n.standardize_text_columns
    assert "visit_date" in n.parse_datetimes  # detect_datetimes heuristic

    d = C.duplicates_config(yaml.safe_load(configs["duplicates"]))
    assert d.subset_columns == ["tag_id"]

    specs = {s.column: s for s in C.impute_specs(yaml.safe_load(configs["imputation"]))}
    assert specs["note"].strategy == "mode"  # low-cardinality nullable string
    assert "mass" not in specs  # no nulls -> no strategy

    # high-cardinality strings fall back to the UNKNOWN constant
    low_card = infer_configs(sample, modules=["imputation"], max_unique=5)
    specs2 = {s.column: s for s in C.impute_specs(yaml.safe_load(low_card["imputation"]))}
    assert specs2["note"].strategy == "constant" and specs2["note"].value == "UNKNOWN"

    fa = C.final_audit_config(yaml.safe_load(configs["final_audit"]))
    assert "tag_id" in fa.disallowed_null_columns
    assert "note" not in fa.disallowed_null_columns


def test_auto_heal(spark, sample):
    from analyst_toolkit_spark.plans.pipeline import auto_heal

    run = auto_heal(spark, sample)
    modules = [h["module"] for h in run.history]
    assert "normalization" in modules and "imputation" in modules
    # nullable string imputed with UNKNOWN constant
    assert run.df.filter("note IS NULL").count() == 0
