"""MCP serving surface: JSON-RPC dispatch shapes over stdio and HTTP,
mirroring the reference's mcp_server request/response contract
(rpc_dispatch.py: initialize / tools/list / tools/call, error codes)."""

import io
import json
import urllib.error
import urllib.request

import pytest

from analyst_toolkit_spark.server import RpcServer, json_safe, serve_http, serve_stdio
from analyst_toolkit_spark.tools import Toolkit


@pytest.fixture(scope="module")
def toolkit(spark):
    return Toolkit(spark)


@pytest.fixture(scope="module")
def rpc(toolkit):
    return RpcServer(toolkit)


def _lineitem(sf_dir):
    return f"{sf_dir}/lineitem.parquet"


def test_initialize_shape(rpc):
    resp = rpc.handle({"jsonrpc": "2.0", "id": 1, "method": "initialize", "params": {}})
    assert resp["jsonrpc"] == "2.0" and resp["id"] == 1
    result = resp["result"]
    assert result["protocolVersion"] == "2024-05-01"
    assert result["serverInfo"]["name"] == "analyst-toolkit-spark"
    assert "capabilities" in result


def test_tools_list_shape(rpc):
    resp = rpc.handle({"jsonrpc": "2.0", "id": 2, "method": "tools/list"})
    tools = resp["result"]["tools"]
    names = {t["name"] for t in tools}
    assert {"diagnostics", "validation", "imputation", "data_dictionary", "manage_session"} <= names
    for t in tools:
        assert set(t) == {"name", "description", "inputSchema"}
        assert t["inputSchema"]["type"] == "object"


def test_tools_list_required_matches_signatures(rpc):
    # a schema requires exactly what its tool cannot run without: the
    # parameters of tool_<name> (or of the module runner) with no default
    import inspect

    tools = rpc.handle({"jsonrpc": "2.0", "id": 2, "method": "tools/list"})["result"]["tools"]
    for t in tools:
        fn = getattr(Toolkit, f"tool_{t['name']}", None)
        params = list(inspect.signature(fn or Toolkit._module_tool).parameters.values())
        params = params[1:] if fn else params[2:]  # self, and the module runner's module name
        need = [p.name for p in params if p.default is p.empty and p.kind is not p.VAR_KEYWORD]
        assert t["inputSchema"].get("required", []) == need, t["name"]
        assert set(need) <= set(t["inputSchema"]["properties"]), t["name"]
        assert t["description"] != f"{t['name']} tool.", t["name"]


def test_tools_call_diagnostics(rpc, sf_dir):
    resp = rpc.handle(
        {
            "jsonrpc": "2.0",
            "id": 3,
            "method": "tools/call",
            "params": {"name": "diagnostics", "arguments": {"input_path": _lineitem(sf_dir)}},
        }
    )
    result = resp["result"]
    assert result["status"] == "pass"
    assert result["module"] == "diagnostics"
    assert "trace_id" in result
    json.dumps(result)  # wire-encodable end to end


def test_tools_call_alias_and_session_roundtrip(rpc, sf_dir):
    load = rpc.handle(
        {
            "jsonrpc": "2.0",
            "id": 4,
            "method": "tools/call",
            "params": {
                "name": "load_session",
                "arguments": {"session_id": "s1", "input_path": _lineitem(sf_dir)},
            },
        }
    )
    assert load["result"]["status"] == "pass" and load["result"]["rows"] > 0
    # reference alias name resolves ("outliers" -> outlier_detection)
    out = rpc.handle(
        {
            "jsonrpc": "2.0",
            "id": 5,
            "method": "tools/call",
            "params": {"name": "outliers", "arguments": {"session_id": "s1"}},
        }
    )
    assert out["result"]["status"] == "pass"
    info = rpc.handle(
        {
            "jsonrpc": "2.0",
            "id": 6,
            "method": "tools/call",
            "params": {"name": "manage_session", "arguments": {"action": "info", "session_id": "s1"}},
        }
    )
    assert "l_orderkey" in info["result"]["columns"]


def test_session_with_array_column(rpc, spark, tmp_path):
    # pandas cannot hash the arrays an array<int> column collects to, so its
    # statistics come from the Spark tier for every tool that reads them
    path = str(tmp_path / "arrays.parquet")
    spark.createDataFrame([(1, [1, 2]), (2, [1, 2]), (3, None)], "k int, tags array<int>").write.parquet(path)

    def call(name, **arguments):
        body = {"jsonrpc": "2.0", "id": 9, "method": "tools/call", "params": {"name": name, "arguments": arguments}}
        return rpc.handle(body)["result"]

    assert call("load_session", session_id="arrays", input_path=path)["status"] == "pass"
    diag = call("diagnostics", session_id="arrays")
    assert diag["status"] == "pass"
    tags = next(r for r in diag["reports"]["diagnostics"] if r["column"] == "tags")
    assert (tags["nulls"], tags["n_unique"]) == (1, 1)
    d = {r["column"]: r for r in call("data_dictionary", session_id="arrays")["columns"]}
    assert (d["tags"]["null_count"], d["tags"]["n_unique"]) == (1, 1)


def test_drift_detection_wire_adaptation(rpc, sf_dir):
    resp = rpc.handle(
        {
            "jsonrpc": "2.0",
            "id": 7,
            "method": "tools/call",
            "params": {
                "name": "drift_detection",
                "arguments": {"base_path": _lineitem(sf_dir), "target_path": _lineitem(sf_dir)},
            },
        }
    )
    result = resp["result"]
    assert result["status"] == "pass"
    assert all(not r["drifted"] for r in result["numeric"])  # same table: no drift


def test_error_codes(rpc):
    assert rpc.handle_json(b"{not json")["error"]["code"] == -32700
    assert rpc.handle({"id": 1})["error"]["code"] == -32600
    assert rpc.handle({"id": 1, "method": "nope/nope"})["error"]["code"] == -32601
    assert (
        rpc.handle({"id": 1, "method": "tools/call", "params": {"name": "no_such_tool"}})["error"]["code"]
        == -32601
    )
    assert rpc.handle({"id": 1, "method": "tools/call", "params": {}})["error"]["code"] == -32602
    internal = rpc.handle(
        {"id": 1, "method": "tools/call", "params": {"name": "manage_session", "arguments": {"action": "bogus"}}}
    )
    # unsupported action returns a fail status, not a crash
    assert internal["result"]["status"] == "fail"


def test_internal_error_envelope(rpc):
    resp = rpc.handle(
        {
            "id": 9,
            "method": "tools/call",
            "params": {"name": "diagnostics", "arguments": {"input_path": "/nonexistent.parquet"}},
        }
    )
    err = resp["error"]
    assert err["code"] == -32603
    assert "Internal error:" in err["message"] and "trace_id=" in err["message"]


def test_stdio_roundtrip(toolkit):
    reqs = [
        {"jsonrpc": "2.0", "id": 1, "method": "initialize"},
        {"jsonrpc": "2.0", "method": "notifications/initialized"},  # no response
        {"jsonrpc": "2.0", "id": 2, "method": "tools/list"},
    ]
    stdin = io.StringIO("\n".join(json.dumps(r) for r in reqs) + "\n")
    stdout = io.StringIO()
    serve_stdio(toolkit, stdin=stdin, stdout=stdout)
    lines = [json.loads(l) for l in stdout.getvalue().splitlines()]
    assert [l["id"] for l in lines] == [1, 2]  # notification produced no line
    assert lines[1]["result"]["tools"]


def test_http_roundtrip(toolkit, sf_dir):
    httpd = serve_http(toolkit, port=0)  # ephemeral port
    try:
        port = httpd.server_address[1]
        body = json.dumps(
            {
                "jsonrpc": "2.0",
                "id": 11,
                "method": "tools/call",
                "params": {"name": "run_history", "arguments": {"limit": 5}},
            }
        ).encode()
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/rpc", data=body, headers={"Content-Type": "application/json"}
        )
        with urllib.request.urlopen(req, timeout=30) as r:
            resp = json.loads(r.read())
        assert resp["id"] == 11 and resp["result"]["status"] == "pass"
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/health", timeout=10) as r:
            assert json.loads(r.read())["status"] == "ok"
    finally:
        httpd.shutdown()


def test_http_auth_token(toolkit):
    httpd = serve_http(toolkit, port=0, auth_token="sekrit")
    try:
        port = httpd.server_address[1]
        body = json.dumps({"jsonrpc": "2.0", "id": 1, "method": "tools/list"}).encode()
        # no token → 401
        req = urllib.request.Request(f"http://127.0.0.1:{port}/rpc", data=body)
        with pytest.raises(urllib.error.HTTPError) as exc:
            urllib.request.urlopen(req, timeout=10)
        assert exc.value.code == 401
        # wrong token → 401
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/rpc", data=body, headers={"Authorization": "Bearer nope"}
        )
        with pytest.raises(urllib.error.HTTPError) as exc:
            urllib.request.urlopen(req, timeout=10)
        assert exc.value.code == 401
        # correct token → 200
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/rpc", data=body, headers={"Authorization": "Bearer sekrit"}
        )
        with urllib.request.urlopen(req, timeout=10) as r:
            assert json.loads(r.read())["result"]["tools"]
    finally:
        httpd.shutdown()


def test_metrics_and_ready_endpoints(toolkit):
    """GET /metrics exposes per-RPC counters (reference observability.py
    RuntimeMetrics.snapshot shape); /ready answers; both are auth-gated when
    a token is configured."""
    httpd = serve_http(toolkit, port=0)
    try:
        port = httpd.server_address[1]
        for i, method in enumerate(["tools/list", "tools/call"]):
            params = {"name": "run_history", "arguments": {}} if method == "tools/call" else {}
            body = json.dumps({"jsonrpc": "2.0", "id": i, "method": method, "params": params}).encode()
            req = urllib.request.Request(f"http://127.0.0.1:{port}/rpc", data=body)
            urllib.request.urlopen(req, timeout=30).read()
        # one bad call → errors_total
        body = json.dumps({"jsonrpc": "2.0", "id": 9, "method": "tools/call", "params": {"name": "nope"}}).encode()
        urllib.request.urlopen(
            urllib.request.Request(f"http://127.0.0.1:{port}/rpc", data=body), timeout=10
        ).read()

        with urllib.request.urlopen(f"http://127.0.0.1:{port}/metrics", timeout=10) as r:
            snap = json.loads(r.read())
        rpc_stats = snap["rpc"]
        assert rpc_stats["requests_total"] >= 3
        assert rpc_stats["errors_total"] >= 1
        assert rpc_stats["by_method"]["tools/list"] >= 1
        assert rpc_stats["by_tool"]["run_history"] >= 1
        assert rpc_stats["avg_latency_ms"] >= 0 and snap["uptime_sec"] >= 0

        with urllib.request.urlopen(f"http://127.0.0.1:{port}/ready", timeout=10) as r:
            assert json.loads(r.read())["status"] == "ready"
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/health", timeout=10) as r:
            health = json.loads(r.read())
        assert health["status"] == "ok" and "auto_heal" in health["tools"]
    finally:
        httpd.shutdown()


def test_metrics_codegen_block_read_at_scrape_only(toolkit, monkeypatch):
    """GET /metrics carries the JVM's codegen compile count and time beside
    the codegen cache size that produced them; RPCs never read the JVM
    counters, only a scrape does."""
    import analyst_toolkit_spark.server as srv
    from analyst_toolkit_spark.session import CODEGEN_CACHE_ENTRIES

    reads = []
    real = srv.codegen_stats
    monkeypatch.setattr(srv, "codegen_stats", lambda spark: reads.append(1) or real(spark))
    httpd = serve_http(toolkit, port=0)
    try:
        port = httpd.server_address[1]
        for i in range(3):
            body = json.dumps(
                {"jsonrpc": "2.0", "id": i, "method": "tools/call", "params": {"name": "run_history"}}
            ).encode()
            urllib.request.urlopen(
                urllib.request.Request(f"http://127.0.0.1:{port}/rpc", data=body), timeout=30
            ).read()
        assert reads == []

        def scrape():
            with urllib.request.urlopen(f"http://127.0.0.1:{port}/metrics", timeout=10) as r:
                return json.loads(r.read())["codegen"]

        before = scrape()
        # a plan shape this JVM has not compiled yet
        toolkit.spark.range(3).selectExpr("id * 918273645 + 5647382910 AS x").collect()
        after = scrape()
        assert reads == [1, 1]
        assert after["cache_max_entries"] == CODEGEN_CACHE_ENTRIES
        assert isinstance(after["compiles_total"], int)
        assert after["compiles_total"] > before["compiles_total"]
        assert after["compile_ms_mean"] > 0
    finally:
        httpd.shutdown()


def test_metrics_auth_gated(toolkit):
    httpd = serve_http(toolkit, port=0, auth_token="sekrit")
    try:
        port = httpd.server_address[1]
        for path in ("/metrics", "/health", "/ready"):
            with pytest.raises(urllib.error.HTTPError) as exc:
                urllib.request.urlopen(f"http://127.0.0.1:{port}{path}", timeout=10)
            assert exc.value.code == 401
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/metrics", headers={"Authorization": "Bearer sekrit"}
        )
        with urllib.request.urlopen(req, timeout=10) as r:
            assert "rpc" in json.loads(r.read())
    finally:
        httpd.shutdown()


def test_job_tools_over_server_surface(rpc, sf_dir):
    """submit→poll→result through tools/call (the reference async scenario
    driven over the wire layer)."""
    import time as _t

    sub = rpc.handle(
        {
            "jsonrpc": "2.0",
            "id": 1,
            "method": "tools/call",
            "params": {
                "name": "auto_heal",
                "arguments": {"input_path": f"{sf_dir}/region.parquet", "async_mode": True},
            },
        }
    )
    job_id = sub["result"]["job_id"]
    assert sub["result"]["status"] == "accepted"
    deadline = _t.time() + 120
    state = None
    while _t.time() < deadline:
        poll = rpc.handle(
            {
                "jsonrpc": "2.0",
                "id": 2,
                "method": "tools/call",
                "params": {"name": "get_job_status", "arguments": {"job_id": job_id}},
            }
        )
        state = poll["result"]["job"]["state"]
        if state in ("succeeded", "failed", "cancelled"):
            break
        _t.sleep(0.2)
    assert state == "succeeded", poll["result"]["job"].get("error")
    assert poll["result"]["job"]["result"]["module"] == "auto_heal"
    tools = {t["name"] for t in rpc.list_tools()}
    assert {"get_job_status", "list_jobs", "cancel_job"} <= tools


def test_resources_list_and_read(rpc):
    """MCP resources surface (reference mcp_server/resources.py): quickstart
    doc, capability catalog, golden template — and the template must be a
    VALID config for this engine's pipeline plane, not just prose."""
    import yaml

    from analyst_toolkit_spark.plans import config as C

    listed = rpc.handle({"jsonrpc": "2.0", "id": 1, "method": "resources/list"})
    uris = {r["uri"] for r in listed["result"]["resources"]}
    assert {
        "analyst://docs/quickstart",
        "analyst://catalog/capabilities",
        "analyst://templates/golden/fraud_detection.yaml",
    } <= uris

    def read(uri):
        resp = rpc.handle({"jsonrpc": "2.0", "id": 2, "method": "resources/read", "params": {"uri": uri}})
        return resp["result"]["contents"][0]

    quick = read("analyst://docs/quickstart")
    assert quick["mimeType"] == "text/markdown" and "auto_heal" in quick["text"]

    catalog = json.loads(read("analyst://catalog/capabilities")["text"])
    assert catalog["status"] == "pass" and "modules" in catalog

    playbook = json.loads(read("analyst://docs/agent-playbook")["text"])
    steps = [s["tool"] for s in playbook["workflow"]]
    assert steps.index("outlier_detection") < steps.index("outlier_handling")  # M05->M06 edge
    # every playbook tool must actually exist on the server
    tools = {t["name"] for t in rpc.list_tools()}
    assert set(steps) <= tools

    golden = read("analyst://templates/golden/fraud_detection.yaml")
    master = yaml.safe_load(golden["text"])
    cfg = C.pipeline_config(master)  # must parse through the config plane
    assert cfg.run_id == "fraud_detection_golden"
    assert cfg.enabled("validation") and cfg.enabled("final_audit")
    # the validation shorthand in the template resolves to real rules
    vcfg, _ = C.validation_config(cfg.module_config("validation"))
    assert vcfg.numeric_ranges.get("amount") or vcfg.disallowed_null_columns

    err = rpc.handle({"jsonrpc": "2.0", "id": 3, "method": "resources/read", "params": {"uri": "analyst://nope"}})
    assert err["error"]["code"] == -32602


def test_rpc_never_crashes_on_malformed_input(rpc):
    """Fuzz the dispatch layer: every malformed payload must come back as a
    JSON-RPC error envelope (or None for notification-shaped junk), never an
    exception — the wire layer is the trust boundary."""
    import random

    rng = random.Random(42)
    cases = [
        b"", b"{", b"[]", b"null", b"42", b'"str"',
        b'{"jsonrpc": "2.0"}',
        b'{"method": 5, "id": 1}',
        b'{"method": "tools/call", "id": 1}',
        b'{"method": "tools/call", "id": 1, "params": {"name": 123}}',
        b'{"method": "tools/call", "id": 1, "params": {"name": "diagnostics", "arguments": {"config": {"a": ["x"]}}}}',
        b'{"method": "resources/read", "id": 1, "params": {"uri": 7}}',
        b'{"method": "x" * 10000, "id": 1}',
    ] + [bytes(rng.randrange(256) for _ in range(rng.randrange(1, 200))) for _ in range(20)]
    for raw in cases:
        resp = rpc.handle_json(raw)
        assert resp is None or ("error" in resp or "result" in resp), raw[:40]
        if resp is not None:
            json.dumps(resp, default=str)  # must be serializable


def test_http_refuses_nonloopback_without_token(toolkit, monkeypatch):
    monkeypatch.delenv("ANALYST_MCP_AUTH_TOKEN", raising=False)
    with pytest.raises(ValueError, match="non-loopback"):
        serve_http(toolkit, host="0.0.0.0", port=0)


def test_json_safe_dataframe_preview_is_bounded(spark):
    df = spark.range(500).selectExpr("id", "id * 2 as v")
    out = json_safe(df, max_rows=10)
    assert len(out["rows"]) == 10 and out["preview_truncated"] is True
    json.dumps(out)
