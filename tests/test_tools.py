"""Tool facade tests — the MCP-tool-call contract over SessionStore."""

import json

import pytest
from pyspark.sql import Row

from analyst_toolkit_spark.tools import Toolkit


@pytest.fixture()
def toolkit(spark, tmp_path):
    return Toolkit(spark, ledger_path=str(tmp_path / "ledger.jsonl"))


@pytest.fixture()
def csv_path(spark, tmp_path):
    df = spark.createDataFrame(
        [Row(id=i, seg=["A", "B"][i % 2], bal=float(i) if i % 5 else None) for i in range(20)]
    )
    p = str(tmp_path / "input_csv")
    df.coalesce(1).write.option("header", "true").mode("overwrite").csv(p)
    return p


def test_load_and_module_chain(toolkit, csv_path):
    res = toolkit.call("load_session", session_id="s1", input_path=csv_path)
    assert res["status"] == "pass" and res["rows"] == 20

    res = toolkit.call("diagnostics", session_id="s1")
    assert res["status"] == "pass"
    assert res["summary"]["row_count"] == 20

    res = toolkit.call(
        "validation",
        session_id="s1",
        config={"validation": {"schema_validation": {"rules": {"categorical_values": {"seg": ["A", "B"]}}}}},
    )
    assert res["status"] == "pass" and res["summary"]["passed"]

    res = toolkit.call("imputation", session_id="s1", config="imputation:\n  rules:\n    strategies:\n      bal: mean\n")
    assert res["status"] == "pass"
    healed = toolkit.store.get("s1")
    assert healed.filter("bal IS NULL").count() == 0


def test_yaml_and_double_wrapped_config(toolkit):
    assert toolkit._coerce_config("a: 1") == {"a": 1}
    assert toolkit._coerce_config({"config": {"a": 1}}) == {"a": 1}
    assert toolkit._coerce_config({"config": "a: 1"}) == {"a": 1}
    assert toolkit._coerce_config(None) == {}


def test_infer_auto_heal_health(toolkit, csv_path):
    toolkit.call("load_session", session_id="s2", input_path=csv_path)
    res = toolkit.call("infer_configs", session_id="s2")
    assert "validation" in res["configs"]
    assert toolkit.store.get_config("s2", "validation")

    res = toolkit.call("auto_heal", session_id="s2")
    assert res["status"] == "pass" and "overall_score" in res["health"]

    health = toolkit.call("data_health")
    assert 0 <= health["overall_score"] <= 100
    assert health["status"] == "pass"
    assert health["health_status"] in ("green", "yellow", "red")

    hist = toolkit.call("run_history")
    assert any(e["module"] == "infer_configs" for e in hist["ledger"])


def test_auto_heal_skips_imputation_when_nothing_to_fill(toolkit, spark):
    """Reference hardening scenario (tests/hardening/test_auto_heal_behavior
    .py:87): a null-free input infers an EMPTY imputation strategy map and
    the heal must do no imputation work — the report carries no filled
    columns and no fill values."""
    clean = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["id", "cat", "val"]
    )
    res = toolkit.call("auto_heal", df=clean, run_id="clean_heal")
    assert res["status"] == "pass"
    import yaml

    inferred = yaml.safe_load(res["inferred_configs"]["imputation"])
    assert inferred["imputation"]["rules"]["strategies"] == {}


def test_drift_tool(toolkit, spark):
    base = spark.createDataFrame([Row(x=float(i)) for i in range(50)])
    target = spark.createDataFrame([Row(x=float(i * 3)) for i in range(50)])
    res = toolkit.call("drift_detection", base_df=base, target_df=target)
    assert res["numeric"][0]["drifted"]


def test_ledger_file_written(toolkit, csv_path, tmp_path):
    toolkit.call("load_session", session_id="s3", input_path=csv_path)
    lines = [json.loads(l) for l in open(toolkit.ledger_path)]
    assert lines and lines[-1]["module"] == "load_session"


def test_unknown_tool(toolkit):
    with pytest.raises(KeyError, match="unknown tool"):
        toolkit.call("nope")


def test_preflight_config(toolkit):
    res = toolkit.call("preflight_config", module="validation",
                       config={"validation": {"schema_validation": {"rules": {"categorical_values": {"x": ["a"]}}}}})
    assert res["status"] == "pass" and res["compiled"]["rules"] == 1
    res = toolkit.call("preflight_config", module="imputation",
                       config="imputation:\n  rules:\n    strategies:\n      a: mean\n")
    assert res["status"] == "pass" and res["compiled"]["strategies"] == 1
    assert toolkit.call("preflight_config", module="nope")["status"] == "fail"


def test_aliases_and_catalog(toolkit, spark):
    cat = toolkit.call("get_capability_catalog")
    assert "validation" in cat["modules"] and "auto_heal" in cat["tools"]
    from pyspark.sql import Row

    df = spark.createDataFrame([Row(x=1.0), Row(x=100.0)] * 10)
    res = toolkit.call("outliers", df=df)  # reference alias for outlier_detection
    assert res["module"] == "outlier_detection"


def test_manage_session_and_dashboard(toolkit, spark):
    from pyspark.sql import Row

    toolkit.store.save("m1", spark.createDataFrame([Row(a=1)]))
    assert any(s["session_id"] == "m1" for s in toolkit.call("manage_session", action="list")["sessions"])
    assert toolkit.call("manage_session", action="info", session_id="m1")["columns"] == ["a"]
    toolkit.call("manage_session", action="delete", session_id="m1")
    assert not any(s["session_id"] == "m1" for s in toolkit.call("manage_session", action="list")["sessions"])

    toolkit.call("diagnostics", df=spark.createDataFrame([(1, None)], "a long, b string"))
    dash = toolkit.call("get_cockpit_dashboard")
    assert "diagnostics" in dash["latest_status_by_module"]
    assert 0 <= dash["health"]["overall_score"] <= 100


def test_module_tools_keep_session_metadata(spark, csv_path, tmp_path):
    tk = Toolkit(spark, persist_dir=str(tmp_path / "state"), max_entries=1)
    tk.call("load_session", session_id="meta", input_path=csv_path)
    tk.call("normalization", session_id="meta", config={"normalization": {"rules": {"standardize_text_columns": ["seg"]}}})
    tk.call("load_session", session_id="other", input_path=csv_path)  # evicts "meta"
    tk.call("imputation", session_id="meta", config="imputation:\n  rules:\n    strategies:\n      bal: mean\n")
    meta = {s["session_id"]: s["metadata"] for s in tk.store.list_sessions()}
    assert meta == {"meta": {"source": csv_path}}


@pytest.mark.parametrize(
    "module,config",
    [("diagnostics", None), ("duplicates", {"duplicates": {"mode": "flag"}})],
)
def test_unchanged_frame_is_not_rewritten(spark, csv_path, tmp_path, module, config):
    state = tmp_path / "state"
    tk = Toolkit(spark, persist_dir=str(state))
    tk.call("load_session", session_id="same", input_path=csv_path)
    before = (state / "same.current").read_bytes(), sorted(p.name for p in state.iterdir())
    assert tk.call(module, session_id="same", config=config)["status"] == "pass"
    assert ((state / "same.current").read_bytes(), sorted(p.name for p in state.iterdir())) == before


def test_export_dashboard_uploads_to_report_bucket(toolkit, tmp_path, monkeypatch):
    bucket = tmp_path / "bucket"
    monkeypatch.setenv("ANALYST_REPORT_BUCKET", f"file://{bucket}")
    monkeypatch.setenv("ANALYST_REPORT_PREFIX", "reports")
    res = toolkit.call("export_dashboard", output_path=str(tmp_path / "dash.html"), run_id="run1")
    assert res["artifact_uri"] == f"file://{bucket}/reports/run1/export_dashboard/dash.html"
    assert (bucket / "reports/run1/export_dashboard/dash.html").read_text() == open(res["path"]).read()
    lines = [json.loads(l) for l in open(toolkit.ledger_path)]
    artifact = [l for l in lines if l.get("uri") == res["artifact_uri"]]
    assert artifact and artifact[0]["status"] == "uploaded" and artifact[0]["module"] == "export_dashboard"
