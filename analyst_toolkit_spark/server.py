"""MCP serving surface: JSON-RPC 2.0 over stdio lines and HTTP POST /rpc.

The reference serves its tool registry two ways (mcp_server/server.py:194-206
official MCP stdio; :276-onwards legacy HTTP ``/rpc``), both dispatching into
the same tool functions. This module is the same thin control-plane over
:class:`analyst_toolkit_spark.tools.Toolkit` — stdlib only (the ``mcp`` and
FastAPI packages are not available here), matching the reference's
request/response shapes (mcp_server/rpc_dispatch.py:53-135):

- ``initialize``    → ``{"protocolVersion", "serverInfo", "capabilities"}``
- ``tools/list``    → ``{"tools": [{"name", "description", "inputSchema"}]}``
- ``tools/call``    → the tool's result dict with a ``trace_id`` attached
- errors            → JSON-RPC error objects: -32700 parse, -32600 invalid,
  -32601 unknown method/tool, -32602 bad params, -32603 internal
  (``"Internal error: <msg> (trace_id=...)"``, rpc_dispatch.py:126-131).

Everything data-plane stays in the Toolkit/operator layer; the wire layer only
resolves path/session references into DataFrames and renders results
JSON-safe (Row → dict, DataFrame → bounded preview — never a full collect).
"""

from __future__ import annotations

import datetime as _dt
import decimal
import ipaddress
import json
import os
import secrets
import sys
import threading
import time as _time
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any

from pyspark.sql import DataFrame, Row

from analyst_toolkit_spark.session import codegen_stats
from analyst_toolkit_spark.tools import Toolkit, _ALIASES, _MODULE_TOOLS

PROTOCOL_VERSION = "2024-05-01"  # reference server.py:124
SERVER_NAME = "analyst-toolkit-spark"
SERVER_VERSION = "0.2.0"

#: Wire preview bound for DataFrame-valued report entries. The serving layer
#: must never become a driver-side full collect of a 100 TB frame.
MAX_PREVIEW_ROWS = 100

_GENERIC_SCHEMA = {
    "type": "object",
    "properties": {
        "session_id": {"type": "string", "description": "toolkit session to read/write"},
        "input_path": {"type": "string", "description": "server-visible csv/parquet/json/orc path"},
        "config": {
            "anyOf": [{"type": "object"}, {"type": "string"}],
            "description": "module config (dict or YAML string)",
        },
        "run_id": {"type": "string"},
    },
}

_AUTO_HEAL_SCHEMA = {
    "type": "object",
    "properties": {
        **_GENERIC_SCHEMA["properties"],
        "async_mode": {
            "type": "boolean",
            "description": "queue as a background job; poll get_job_status(job_id)",
            "default": False,
        },
    },
}

_TOOL_SCHEMAS: dict[str, dict] = {
    "infer_configs": _GENERIC_SCHEMA,
    "auto_heal": _AUTO_HEAL_SCHEMA,
    "get_job_status": {
        "type": "object",
        "properties": {"job_id": {"type": "string", "description": "id returned by async_mode tools"}},
        "required": ["job_id"],
    },
    "list_jobs": {
        "type": "object",
        "properties": {
            "limit": {"type": "integer", "default": 20},
            "state": {"type": "string", "description": "queued|running|succeeded|failed|cancelled"},
        },
    },
    "cancel_job": {
        "type": "object",
        "properties": {"job_id": {"type": "string"}},
        "required": ["job_id"],
    },
    "data_dictionary": _GENERIC_SCHEMA,
    "data_health": {"type": "object", "properties": {}},
    "run_history": {"type": "object", "properties": {"limit": {"type": "integer"}}},
    "capability_catalog": {"type": "object", "properties": {}},
    "dashboard": {"type": "object", "properties": {}},
    "preflight_config": {
        "type": "object",
        "properties": {"module": {"type": "string"}, "config": _GENERIC_SCHEMA["properties"]["config"]},
        "required": ["module"],
    },
    "manage_session": {
        "type": "object",
        "properties": {
            "action": {"type": "string", "enum": ["list", "delete", "info"]},
            "session_id": {"type": "string"},
        },
        "required": ["action"],
    },
    "load_session": {
        "type": "object",
        "properties": {
            "session_id": {"type": "string"},
            "input_path": {"type": "string"},
            "fmt": {"type": "string"},
        },
        "required": ["session_id", "input_path"],
    },
    "export_dashboard": {
        "type": "object",
        "properties": {
            "output_path": {"type": "string"},
            "session_id": {"type": "string"},
            "input_path": {"type": "string"},
            "viz_columns": {"type": "array", "items": {"type": "string"}},
            "title": {"type": "string"},
        },
        "required": ["output_path"],
    },
    "export_visuals": {
        "type": "object",
        "properties": {
            "output_path": {"type": "string", "description": "server-visible path of the HTML report to write"},
            "session_id": {"type": "string"},
            "input_path": {"type": "string"},
            "numeric_columns": {"type": "array", "items": {"type": "string"}},
            "categorical_columns": {"type": "array", "items": {"type": "string"}},
            "title": {"type": "string"},
        },
        "required": ["output_path"],
    },
    "drift_detection": {
        "type": "object",
        "properties": {
            "base_path": {"type": "string"},
            "target_path": {"type": "string"},
            "base_session": {"type": "string"},
            "target_session": {"type": "string"},
            "threshold": {"type": "number"},
        },
    },
}


# -- MCP resources (reference mcp_server/resources.py / templates.py) --------
# The reference exposes docs + golden config templates + the capability
# catalog as MCP resources so client agents can fetch workflow starting
# points without a tool call. Same URIs, Spark-flavored content.

QUICKSTART_URI = "analyst://docs/quickstart"
AGENT_PLAYBOOK_URI = "analyst://docs/agent-playbook"
CAPABILITY_CATALOG_URI = "analyst://catalog/capabilities"
GOLDEN_TEMPLATE_URI = "analyst://templates/golden/fraud_detection.yaml"

#: Strict ordered workflow for client agents (reference resources.py
#: AGENT_PLAYBOOK_URI / cockpit_content.agent_playbook_payload) — JSON so an
#: agent can follow it mechanically.
_AGENT_PLAYBOOK = {
    "version": 1,
    "workflow": [
        {"step": 1, "tool": "load_session", "why": "register the input once; every later step reads the session"},
        {"step": 2, "tool": "diagnostics", "why": "profile before touching anything; read null_pct and dtypes"},
        {"step": 3, "tool": "preflight_config", "why": "validate any module config BEFORE running it"},
        {"step": 4, "tool": "validation", "why": "audit rules first (fail_on_error=false), gate later"},
        {"step": 5, "tool": "normalization", "why": "rename/standardize/parse before dedup so keys compare equal"},
        {"step": 6, "tool": "duplicates", "why": "dedup after normalization, before stats-based steps"},
        {"step": 7, "tool": "outlier_detection", "why": "detection must precede handling (M05->M06 edge)"},
        {"step": 8, "tool": "outlier_handling", "why": "consumes detection flags; pick per-column strategies"},
        {"step": 9, "tool": "imputation", "why": "fill after outlier handling so fills use clean stats"},
        {"step": 10, "tool": "final_audit", "why": "certify; data_health for the 0-100 score"},
    ],
    "rules": [
        "never call outlier_handling without a prior outlier_detection in the same session",
        "long heals: auto_heal(async_mode=true), then poll get_job_status(job_id); cancel_job stops it",
        "configs may be dicts or YAML strings; unknown keys are rejected by preflight_config",
        "results embed bounded previews only — export via export_dashboard / module sinks",
    ],
}

_QUICKSTART_MD = """\
# analyst-toolkit-spark quickstart

1. `load_session(session_id, input_path)` — register a csv/parquet/json/orc
   path as a named session.
2. `diagnostics(session_id)` — profile: dtypes, nulls, quartiles, skew.
3. `validation(session_id, config)` — schema/range/set rules; audit or gate.
4. `normalization` / `duplicates` / `outlier_detection` → `outlier_handling`
   / `imputation` — each takes the module config documented in
   `get_capability_catalog`; each updates the session in place.
5. `final_audit(session_id, config)` — certify; `data_health` — 0-100 score.
6. Long heals: `auto_heal(session_id, async_mode=true)` → poll
   `get_job_status(job_id)`; `cancel_job(job_id)` stops the Spark jobs.

Inputs can be any Spark-readable path (local, hdfs://, s3a://). Results are
bounded previews — exports go through `export_dashboard` / module sinks.
"""

#: Golden config template: the reference ships YAML workflow starting points
#: (config/golden_templates/fraud_detection.yaml); this is the same shape in
#: this engine's config shorthand (plans/config.py) — every knob here is
#: accepted by the module tools verbatim.
_GOLDEN_FRAUD_YAML = """\
run_id: fraud_detection_golden
modules:
  validation:
    run: true
    config:
      validation:
        rules:
          range_checks:
            amount: {min: 0}
          disallowed_null_columns: [account_id, amount]
        fail_on_error: false
  normalization:
    run: true
    config:
      normalization:
        rules:
          standardize_text_columns: [merchant, category]
          parse_datetimes:
            transaction_time: {format: "%Y-%m-%d %H:%M:%S", errors: coerce}
          coerce_dtypes:
            amount: double
  duplicates:
    run: true
    config:
      duplicates:
        subset_columns: [account_id, transaction_time, amount]
        keep: first
        mode: remove
  outlier_detection:
    run: true
    config:
      outlier_detection:
        detection_specs:
          amount: {method: iqr, multiplier: 3.0}
  outlier_handling:
    run: true
    config:
      outlier_handling:
        handling_specs:
          amount: {strategy: clip}
  imputation:
    run: true
    config:
      imputation:
        rules:
          strategies:
            category: {strategy: mode}
  final_audit:
    run: true
    config:
      final_audit:
        certification:
          disallowed_null_columns: [account_id]
"""


def list_mcp_resources() -> list[dict]:
    return [
        {
            "name": "docs::quickstart",
            "uri": QUICKSTART_URI,
            "description": "Human-oriented toolkit quickstart guide.",
            "mimeType": "text/markdown",
        },
        {
            "name": "docs::agent_playbook",
            "uri": AGENT_PLAYBOOK_URI,
            "description": "Strict ordered workflow for client agents.",
            "mimeType": "application/json",
        },
        {
            "name": "catalog::capabilities",
            "uri": CAPABILITY_CATALOG_URI,
            "description": "Editable config knobs and tool surface.",
            "mimeType": "application/json",
        },
        {
            "name": "golden::fraud_detection",
            "uri": GOLDEN_TEMPLATE_URI,
            "description": "Golden end-to-end pipeline config template (YAML).",
            "mimeType": "application/x-yaml",
        },
    ]


def json_safe(value: Any, max_rows: int = MAX_PREVIEW_ROWS) -> Any:
    """Render a tool result JSON-encodable. DataFrames become a bounded
    preview {rows, preview_truncated} — the wire never triggers an unbounded
    collect; Rows become dicts; temporal/decimal scalars become strings/floats."""
    if isinstance(value, DataFrame):
        rows = [r.asDict(recursive=True) for r in value.limit(max_rows + 1).collect()]
        return {
            "rows": [json_safe(r) for r in rows[:max_rows]],
            "preview_truncated": len(rows) > max_rows,
        }
    if isinstance(value, Row):
        return json_safe(value.asDict(recursive=True))
    if isinstance(value, dict):
        return {str(k): json_safe(v) for k, v in value.items()}
    if isinstance(value, (list, tuple, set)):
        return [json_safe(v) for v in value]
    if isinstance(value, (_dt.datetime, _dt.date)):
        return value.isoformat()
    if isinstance(value, decimal.Decimal):
        return float(value)
    if isinstance(value, bytes):
        return value.hex()
    if isinstance(value, (str, int, float, bool)) or value is None:
        return value
    return str(value)


def _rpc_ok(req_id: Any, result: Any) -> dict:
    return {"jsonrpc": "2.0", "id": req_id, "result": result}


def _rpc_error(req_id: Any, code: int, message: str, data: dict | None = None) -> dict:
    err: dict[str, Any] = {"code": code, "message": message}
    if data:
        err["data"] = data
    return {"jsonrpc": "2.0", "id": req_id, "error": err}


class RuntimeMetrics:
    """Thread-safe per-RPC counters for the operability endpoints (reference
    mcp_server/observability.py:11-54): totals, errors, mean latency, and
    per-method / per-tool counts; scraped via GET /metrics."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._started_at = _time.time()
        self._requests = 0
        self._errors = 0
        self._latency_ms = 0.0
        self._by_method: dict[str, int] = {}
        self._by_tool: dict[str, int] = {}

    def record_rpc(self, method: str, duration_ms: float, ok: bool, tool_name: str | None = None) -> None:
        with self._lock:
            self._requests += 1
            self._latency_ms += max(duration_ms, 0.0)
            self._by_method[method or "unknown"] = self._by_method.get(method or "unknown", 0) + 1
            if tool_name:
                self._by_tool[tool_name] = self._by_tool.get(tool_name, 0) + 1
            if not ok:
                self._errors += 1

    def snapshot(self) -> dict:
        with self._lock:
            n = self._requests
            return {
                "rpc": {
                    "requests_total": n,
                    "errors_total": self._errors,
                    "avg_latency_ms": round(self._latency_ms / n, 2) if n else 0.0,
                    "by_method": dict(self._by_method),
                    "by_tool": dict(self._by_tool),
                },
                "uptime_sec": int(max(0.0, _time.time() - self._started_at)),
            }


class RpcServer:
    """JSON-RPC dispatcher over a :class:`Toolkit`. Transport-agnostic:
    ``handle`` takes/returns dicts; stdio and HTTP wrappers below feed it."""

    def __init__(self, toolkit: Toolkit):
        self.toolkit = toolkit
        self.metrics = RuntimeMetrics()

    def metrics_snapshot(self) -> dict:
        """The GET /metrics payload: the per-RPC counters plus a ``codegen``
        block (JVM compile count and time, and the codegen cache size that
        produced them), read from the JVM only here, at scrape time."""
        return {**self.metrics.snapshot(), "codegen": codegen_stats(self.toolkit.spark)}

    # -- tool surface -------------------------------------------------------

    def list_tools(self) -> list[dict]:
        out = []
        for name in self.toolkit.list_tools():
            out.append(
                {
                    "name": name,
                    "description": _tool_description(name),
                    "inputSchema": _TOOL_SCHEMAS.get(name, _GENERIC_SCHEMA),
                }
            )
        return out

    def call_tool(self, name: str, arguments: dict) -> dict:
        arguments = dict(arguments or {})
        resolved = _ALIASES.get(name, name)
        if resolved == "drift_detection":
            # wire adaptation: the in-process API takes DataFrames; over the
            # wire they arrive as path/session references
            from analyst_toolkit_spark.sources import io as S_io

            for side in ("base", "target"):
                if f"{side}_path" in arguments:
                    arguments[f"{side}_df"] = S_io.load_any(self.toolkit.spark, arguments.pop(f"{side}_path"))
                elif f"{side}_session" in arguments:
                    arguments[f"{side}_df"] = self.toolkit.store.get(arguments.pop(f"{side}_session"))
        return self.toolkit.call(name, **arguments)

    # -- dispatch -----------------------------------------------------------

    def handle(self, body: Any) -> dict | None:
        """One JSON-RPC request → one response dict (None for notifications).
        Every request is measured into :attr:`metrics` (method, tool, latency,
        ok/error) for the /metrics endpoint."""
        t0 = _time.perf_counter()
        method = body.get("method", "") if isinstance(body, dict) else ""
        tool = (body.get("params") or {}).get("name") if isinstance(body, dict) and method == "tools/call" else None
        resp = self._dispatch(body)
        ok = not (isinstance(resp, dict) and "error" in resp)
        self.metrics.record_rpc(method, (_time.perf_counter() - t0) * 1000.0, ok, tool)
        return resp

    def _dispatch(self, body: Any) -> dict | None:
        if not isinstance(body, dict) or "method" not in body:
            return _rpc_error(body.get("id") if isinstance(body, dict) else None, -32600, "Invalid Request")
        req_id = body.get("id")
        method = body.get("method", "")
        params = body.get("params") or {}
        trace_id = uuid.uuid4().hex

        if method == "initialize":
            return _rpc_ok(
                req_id,
                {
                    "protocolVersion": PROTOCOL_VERSION,
                    "serverInfo": {"name": SERVER_NAME, "version": SERVER_VERSION},
                    "capabilities": {"tools": {}, "resources": {}},
                },
            )
        if method in ("notifications/initialized", "initialized"):
            return None
        if method == "tools/list":
            return _rpc_ok(req_id, {"tools": self.list_tools()})
        if method == "resources/list":
            return _rpc_ok(req_id, {"resources": list_mcp_resources()})
        if method == "resources/read":
            uri = params.get("uri", "")
            if uri == QUICKSTART_URI:
                text, mime = _QUICKSTART_MD, "text/markdown"
            elif uri == AGENT_PLAYBOOK_URI:
                text, mime = json.dumps(_AGENT_PLAYBOOK, separators=(",", ":")), "application/json"
            elif uri == GOLDEN_TEMPLATE_URI:
                text, mime = _GOLDEN_FRAUD_YAML, "application/x-yaml"
            elif uri == CAPABILITY_CATALOG_URI:
                text, mime = (
                    json.dumps(json_safe(self.toolkit.call("capability_catalog")), separators=(",", ":")),
                    "application/json",
                )
            else:
                return _rpc_error(req_id, -32602, f"Resource not found: {uri}")
            return _rpc_ok(req_id, {"contents": [{"uri": uri, "mimeType": mime, "text": text}]})
        if method == "tools/call":
            name = params.get("name")
            if not name:
                return _rpc_error(req_id, -32602, "Missing 'name' in params")
            known = set(self.toolkit.list_tools()) | set(_ALIASES)
            if name not in known:
                return _rpc_error(req_id, -32601, f"Tool not found: {name}")
            try:
                result = self.call_tool(name, params.get("arguments", {}))
                result = json_safe(result)
                if isinstance(result, dict):
                    result.setdefault("trace_id", trace_id)
                return _rpc_ok(req_id, result)
            except Exception as exc:
                return _rpc_error(
                    req_id,
                    -32603,
                    f"Internal error: {exc} (trace_id={trace_id})",
                    data={"error": {"type": type(exc).__name__, "trace_id": trace_id}},
                )
        return _rpc_error(req_id, -32601, f"Method not found: {method}")

    def handle_json(self, raw: str | bytes) -> dict | None:
        try:
            body = json.loads(raw)
        except Exception:
            return _rpc_error(None, -32700, "Parse error")
        return self.handle(body)


def _tool_description(name: str) -> str:
    if name in _MODULE_TOOLS:
        return f"Run the {name} module on a session or input path; returns status + summary + reports."
    docs = {
        "infer_configs": "Infer per-module configs from the data's shape.",
        "auto_heal": "Infer configs then run the full cleaning pipeline.",
        "drift_detection": "Schema + numeric drift between two tables (paths or sessions).",
        "data_dictionary": "Semantic-typed data dictionary for a table.",
        "data_health": "Health score aggregated from this server's run history.",
        "run_history": "Recent ledger entries for this server.",
        "preflight_config": "Validate a module config without running it.",
        "capability_catalog": "Tools and config knobs this server understands.",
        "manage_session": "List, inspect, or delete named sessions.",
        "dashboard": "Cockpit summary: health + latest status per module.",
        "load_session": "Load a file into a named session.",
        "export_dashboard": "Write a self-contained HTML dashboard (history + health + optional charts).",
        "export_visuals": "Write a self-contained HTML visual report of a table (missingness, dtypes, correlations, per-column charts).",
        "get_job_status": "Get current status for an async toolkit job by job_id.",
        "list_jobs": "List recent async toolkit jobs, optionally filtered by state.",
        "cancel_job": "Cancel a queued/running async job (cancels its Spark job group).",
    }
    return docs.get(name, f"{name} tool.")


# -- transports --------------------------------------------------------------

#: Env var holding the optional HTTP bearer token — same knob as the reference
#: server (mcp_server/server.py:114 ``ANALYST_MCP_AUTH_TOKEN``), so a reference
#: deployment's auth config carries over unchanged.
AUTH_TOKEN_ENV = "ANALYST_MCP_AUTH_TOKEN"


def _is_loopback_host(host: str) -> bool:
    """True for hosts that only accept local connections (reference
    mcp_server/server.py:90-98)."""
    if host in ("localhost", ""):
        return True
    try:
        return ipaddress.ip_address(host).is_loopback
    except ValueError:
        return False


def _is_authorized(auth_header: str, auth_token: str) -> bool:
    """Bearer-token check, constant-time compare (reference
    mcp_server/auth.py:8-18). Empty configured token disables auth."""
    if not auth_token:
        return True
    if not auth_header.startswith("Bearer "):
        return False
    provided = auth_header[len("Bearer "):].strip()
    return bool(provided) and secrets.compare_digest(provided, auth_token)


def serve_stdio(toolkit: Toolkit, stdin=None, stdout=None) -> None:
    """Newline-delimited JSON-RPC over stdio — the official MCP transport
    framing (one JSON object per line). Blocks until EOF."""
    stdin = stdin or sys.stdin
    stdout = stdout or sys.stdout
    server = RpcServer(toolkit)
    for line in stdin:
        line = line.strip()
        if not line:
            continue
        resp = server.handle_json(line)
        if resp is not None:
            stdout.write(json.dumps(resp, default=str) + "\n")
            stdout.flush()


class _RpcHTTPHandler(BaseHTTPRequestHandler):
    server_version = f"{SERVER_NAME}/{SERVER_VERSION}"
    rpc: RpcServer = None  # type: ignore[assignment]
    auth_token: str = ""

    def log_message(self, fmt, *args):  # quiet: ledger is the audit surface
        pass

    def do_POST(self):
        if self.path != "/rpc":
            self.send_error(404)
            return
        if not _is_authorized(self.headers.get("Authorization", ""), self.auth_token):
            body = json.dumps(
                _rpc_error(None, -32600, "Unauthorized: missing or invalid bearer token")
            ).encode()
            self.send_response(401)
            self.send_header("Content-Type", "application/json")
            self.send_header("WWW-Authenticate", "Bearer")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            return
        try:
            length = int(self.headers.get("Content-Length", 0))
            raw = self.rfile.read(length)
        except Exception:
            raw = b""
        resp = self.rpc.handle_json(raw) or {}
        payload = json.dumps(resp, default=str).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    def _send_json(self, payload: dict, status: int = 200) -> None:
        body = json.dumps(payload, default=str).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self):
        # operability endpoints, auth-gated like the reference
        # (mcp_server/server.py:493-516: /health, /ready, /metrics)
        if self.path not in ("/health", "/ready", "/metrics"):
            self.send_error(404)
            return
        if not _is_authorized(self.headers.get("Authorization", ""), self.auth_token):
            self._send_json({"status": "unauthorized"}, status=401)
            return
        if self.path == "/health":
            snap = self.rpc.metrics.snapshot()
            self._send_json(
                {
                    "status": "ok",
                    "server": SERVER_NAME,
                    "version": SERVER_VERSION,
                    "tools": self.rpc.toolkit.list_tools(),
                    "uptime_sec": snap["uptime_sec"],
                }
            )
        elif self.path == "/ready":
            self._send_json({"status": "ready"})
        else:
            self._send_json(self.rpc.metrics_snapshot())


def serve_http(
    toolkit: Toolkit,
    host: str = "127.0.0.1",
    port: int = 8765,
    auth_token: str | None = None,
) -> ThreadingHTTPServer:
    """Start the legacy-shape HTTP ``/rpc`` endpoint on a daemon thread and
    return the server (call ``.shutdown()`` to stop). Spark job submission is
    thread-safe, so concurrent tool calls interleave at the scheduler.

    ``auth_token`` (default: ``$ANALYST_MCP_AUTH_TOKEN``) gates every ``/rpc``
    POST behind ``Authorization: Bearer <token>`` (401 otherwise); ``/rpc``
    can read any server-visible path via load_session, so a non-loopback bind
    without a token is refused — pass the token or bind loopback (reference
    posture: mcp_server/server.py:98-106, 588)."""
    if auth_token is None:
        auth_token = os.environ.get(AUTH_TOKEN_ENV, "").strip()
    if not auth_token and not _is_loopback_host(host):
        raise ValueError(
            f"refusing non-loopback bind {host!r} without auth: set {AUTH_TOKEN_ENV} "
            "or pass auth_token= (the /rpc surface reads/writes server-visible paths)"
        )
    rpc = RpcServer(toolkit)
    handler = type("BoundHandler", (_RpcHTTPHandler,), {"rpc": rpc, "auth_token": auth_token})
    httpd = ThreadingHTTPServer((host, port), handler)
    thread = threading.Thread(target=httpd.serve_forever, name="rpc-http", daemon=True)
    thread.start()
    return httpd


def main(argv: list[str] | None = None) -> None:
    """``python -m analyst_toolkit_spark.server [--http PORT]``"""
    import argparse

    from analyst_toolkit_spark.session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--http", type=int, default=None, help="serve HTTP /rpc on this port (default: stdio)")
    ap.add_argument("--host", default="127.0.0.1")
    args = ap.parse_args(argv)
    toolkit = Toolkit(get_spark("analyst-toolkit-mcp"))
    if args.http:
        httpd = serve_http(toolkit, args.host, args.http)
        try:
            threading.Event().wait()
        except KeyboardInterrupt:
            httpd.shutdown()
    else:
        serve_stdio(toolkit)


if __name__ == "__main__":
    main()
