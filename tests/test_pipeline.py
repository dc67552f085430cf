"""Master pipeline runner + config plane + health score tests
(reference run_toolkit_pipeline.py chain, scoring.py formulas)."""

import pytest
from pyspark.sql import Row

from analyst_toolkit_spark.functions.scoring import calculate_health_score, metrics_from_history
from analyst_toolkit_spark.ingest import ROW_ID
from analyst_toolkit_spark.plans import config as C
from analyst_toolkit_spark.plans.pipeline import run_pipeline, strptime_to_spark


def test_health_score_formula():
    res = calculate_health_score(
        {"null_rate": 0.1, "validation_pass_rate": 0.5, "outlier_ratio": 0.05, "duplicate_ratio": 0.02}
    )
    # 0.4*90 + 0.3*50 + 0.15*98 + 0.15*95 = 79.95 (float repr 79.95000...02 -> 80.0),
    # identical to what the reference's formula computes on the same inputs
    assert res["overall_score"] == 80.0
    assert res["status"] == "yellow"
    assert res["breakdown"]["completeness"] == 90.0


def test_health_score_thresholds():
    assert calculate_health_score({})["status"] == "green"
    assert calculate_health_score({"null_rate": 0.8})["status"] == "red"


def test_metrics_folding():
    history = [
        {"module": "diagnostics", "summary": {"null_rate": 0.2, "row_count": 100}},
        {"module": "validation", "summary": {"passed": False}},
        {"module": "duplicates", "summary": {"duplicate_count": 10, "row_count": 100}},
        {"module": "outliers", "summary": {"outlier_count": 300}},  # no row_count -> fallback
    ]
    m = metrics_from_history(history)
    assert m["null_rate"] == 0.2
    assert m["validation_pass_rate"] == 0.5  # passed -> 0.5 folding
    assert m["duplicate_ratio"] == 0.1
    assert m["outlier_ratio"] == 0.2  # min(0.2, 300/1000)


def test_strptime_translation():
    assert strptime_to_spark("%Y-%m-%d") == "yyyy-MM-dd"
    assert strptime_to_spark("%d/%m/%Y %H:%M:%S") == "dd/MM/yyyy HH:mm:ss"


def test_pandas_dtype_mapping():
    assert C.to_spark_type("object") == "string"
    assert C.to_spark_type("float64") == "double"
    assert C.to_spark_type("int64") == "bigint"
    assert C.to_spark_type("double") == "double"


@pytest.fixture(scope="module")
def dirty(spark):
    rows = [
        Row(tag="t1", species="Adelie", mass=4000.0, sex="male", day="2021-01-01"),
        Row(tag="t2", species="Adeliee", mass=4100.0, sex="FEMALE", day="2021-01-02"),
        Row(tag="t3", species="Gentoo", mass=None, sex="f", day="2021-01-03"),
        Row(tag="t4", species="Gentoo", mass=99999.0, sex="MALE", day="2021-01-04"),  # outlier
        Row(tag="t4", species="Gentoo", mass=99999.0, sex="MALE", day="2021-01-04"),  # dup
        Row(tag="t5", species="Chinstrap", mass=3800.0, sex=None, day="not-a-date"),
    ] + [Row(tag=f"x{i}", species="Adelie", mass=4000.0 + i, sex="MALE", day="2021-02-01") for i in range(20)]
    return spark.createDataFrame(rows)


MASTER = {
    "run_id": "test_run",
    "modules": {
        "diagnostics": {"run": True},
        "validation": {
            "run": True,
            "config": {
                "validation": {
                    "schema_validation": {
                        "run": True,
                        "fail_on_error": False,
                        "rules": {"categorical_values": {"species": ["Adelie", "Gentoo", "Chinstrap"]}},
                    }
                }
            },
        },
        "normalization": {
            "run": True,
            "config": {
                "normalization": {
                    "rules": {
                        "value_mappings": {"sex": {"male": "MALE", "f": "FEMALE", "female": "FEMALE"}},
                        "fuzzy_matching": {
                            "run": True,
                            "settings": {"species": {"master_list": ["Adelie", "Gentoo", "Chinstrap"], "score_cutoff": 80}},
                        },
                        "parse_datetimes": {"day": {"format": "%Y-%m-%d", "errors": "coerce"}},
                    }
                }
            },
        },
        "validation_gatekeeper": {
            "run": True,
            "config": {
                "validation": {
                    "schema_validation": {
                        "rules": {"categorical_values": {"species": ["Adelie", "Gentoo", "Chinstrap"]}}
                    }
                }
            },
        },
        "duplicates": {
            "run": True,
            "config": {"duplicates": {"subset_columns": ["tag"], "keep": "first", "mode": "remove"}},
        },
        "outlier_detection": {
            "run": True,
            "config": {
                "outlier_detection": {
                    "detection_specs": {"mass": {"method": "iqr", "iqr_multiplier": 1.5}},
                }
            },
        },
        "outlier_handling": {
            "run": True,
            "config": {"outlier_handling": {"handling_specs": {"mass": {"strategy": "median"}}}},
        },
        "imputation": {
            "run": True,
            "config": {
                "imputation": {
                    "rules": {"strategies": {"mass": "mean", "sex": {"strategy": "constant", "value": "UNKNOWN"}}}
                }
            },
        },
        "final_audit": {
            "run": True,
            "config": {
                "final_audit": {
                    "certification": {
                        "schema_validation": {
                            "rules": {
                                "categorical_values": {"sex": ["MALE", "FEMALE", "UNKNOWN"]},
                                "disallowed_null_columns": ["mass", "sex", "species"],
                            }
                        }
                    }
                }
            },
        },
    },
}


def test_pipeline_end_to_end(spark, dirty):
    cfg = C.pipeline_config(MASTER)
    run = run_pipeline(spark, cfg, dirty)

    modules_run = [h["module"] for h in run.history]
    assert modules_run == [
        "diagnostics", "validation", "normalization", "validation",
        "duplicates", "outliers", "outlier_handling", "imputation", "final_audit",
    ]
    # fuzzy fixed the typo, remap fixed casing, dup removed, outlier median'd, nulls filled
    rows = run.df.collect()
    assert all(r["species"] in ("Adelie", "Gentoo", "Chinstrap") for r in rows)
    assert all(r["sex"] in ("MALE", "FEMALE", "UNKNOWN") for r in rows)
    assert len(rows) == 25  # 26 minus the dup
    assert all(r["mass"] is not None and r["mass"] < 99999.0 for r in rows)
    assert run.reports["final_audit"]["certified"]
    assert run.health["overall_score"] > 80
    assert dict(run.df.dtypes)["day"].startswith("timestamp")


def test_pipeline_gatekeeper_raises(spark, dirty):
    master = {
        "run_id": "gate",
        "modules": {
            "validation_gatekeeper": {
                "run": True,
                "config": {
                    "validation": {
                        "schema_validation": {
                            "rules": {"categorical_values": {"species": ["Adelie"]}},
                        }
                    }
                },
            }
        },
    }
    with pytest.raises(ValueError, match="validation gate failed"):
        run_pipeline(spark, C.pipeline_config(master), dirty)


def test_unknown_module_rejected():
    with pytest.raises(ValueError, match="unknown module"):
        C.pipeline_config({"modules": {"nonsense": {"run": True}}})


def test_pipeline_jobs_stay_in_callers_job_group(spark, dirty):
    # every Spark job of a run carries the caller's job group, so
    # cancelJobGroup stops the whole run and the jobs can be attributed to it
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    tracker = sc.statusTracker()
    bus.waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("pipeline-run", "pipeline-run")
    try:
        run_pipeline(spark, C.pipeline_config(MASTER), dirty)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    bus.waitUntilEmpty()
    assert tracker.getJobIdsForGroup("pipeline-run")
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()


def test_pipeline_checkpoint_dir_durable_and_identical(spark, dirty, tmp_path):
    # checkpoint_dir turns the cuts after normalization, duplicate removal
    # and outlier handling into parquet cuts: same run, severed lineage
    local = run_pipeline(spark, C.pipeline_config(MASTER), dirty)
    ckpt = str(tmp_path / "pipe_ckpt")
    durable = run_pipeline(spark, C.pipeline_config({**MASTER, "checkpoint_dir": ckpt}), dirty)
    assert durable.history == local.history
    assert durable.health == local.health
    assert sorted(durable.df.collect(), key=repr) == sorted(local.df.collect(), key=repr)
    for module in ("normalization", "duplicates", "outlier_handling"):
        assert (tmp_path / "pipe_ckpt" / f"test_run_{module}.parquet").is_dir()
    files = durable.df.inputFiles()
    assert files and all("pipe_ckpt" in f for f in files)


@pytest.mark.parametrize("fmt", ["csv", "json"])
def test_pipeline_entry_path_reads_any_format(spark, tmp_path, fmt):
    # a part-file directory (csv) and a named file (json) both load through
    # the one format-dispatching reader, with the row id minted after
    rows = [Row(k=i, seg=["A", "B"][i % 2]) for i in range(6)]
    if fmt == "csv":
        path = str(tmp_path / "entry")
        spark.createDataFrame(rows).coalesce(1).write.option("header", "true").csv(path)
    else:
        path = str(tmp_path / "entry.json")
        with open(path, "w") as fh:
            fh.writelines(f'{{"k": {r.k}, "seg": "{r.seg}"}}\n' for r in rows)
    cfg = C.pipeline_config({"pipeline_entry_path": path, "modules": {"diagnostics": {"run": True}}})
    run = run_pipeline(spark, cfg)
    got = sorted((int(r["k"]), r["seg"]) for r in run.df.drop(ROW_ID).collect())
    assert got == [(r.k, r.seg) for r in rows]
    assert run.history[0]["summary"]["row_count"] == 6
