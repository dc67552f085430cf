"""S9 HTML dashboard renderer — the reference's report stack, Spark-sized.

The reference ships ~4k LoC of dashboard renderers (m00_utils/
dashboard_views.py:573-760 per-module panels + pipeline shell,
dashboard_core.py metric cards, dashboard_plots.py chart embeds,
report_html.py page scaffolding). This module reproduces that surface as one
self-contained driver-side renderer:

- a status banner + metric tiles (module counts, health score),
- one panel per pipeline module: status badge, summary key/values, and the
  module's report table,
- inline-SVG histogram and box plots built from ALREADY-AGGREGATED data
  (operators/visuals.py outputs: bin counts and five-number summaries).

Scale posture: everything rendered here is a small collected aggregate by
construction — the renderer never touches the distributed table. The plots
take the *aggregate rows* (30 bins, 9 numbers per box), not the data, so the
page is the same size whether the input was 60k rows or 100 TB.
"""

from __future__ import annotations

import html
import os
from typing import Any, Iterable, Mapping

from pyspark.sql import DataFrame

_CSS = """
body{font-family:-apple-system,'Segoe UI',sans-serif;margin:0;background:#f4f5f7;color:#1f2430}
.wrap{max-width:1080px;margin:0 auto;padding:24px}
h1{font-size:22px;margin:0 0 4px}h2{font-size:17px;margin:24px 0 8px}h3{font-size:14px;margin:0 0 8px}
.banner{display:flex;flex-wrap:wrap;gap:16px;padding:12px 16px;border-radius:8px;margin:16px 0;
 background:#e8f0e9;border:1px solid #bcd6c0}
.banner.warn{background:#fbeeea;border-color:#e4bdb3}
.banner-item{font-size:13px}
.tiles{display:flex;flex-wrap:wrap;gap:12px;margin:12px 0}
.tile{flex:1 1 140px;background:#fff;border:1px solid #dfe2e8;border-radius:8px;padding:12px 16px}
.tile .v{font-size:24px;font-weight:600}.tile .l{font-size:12px;color:#5b6270}
.tile.pass{border-left:4px solid #3d8b4f}.tile.warn{border-left:4px solid #c96a3b}
.tile.fail{border-left:4px solid #b33a3a}
.panel{background:#fff;border:1px solid #dfe2e8;border-radius:8px;padding:16px;margin:12px 0}
.badge{display:inline-block;padding:2px 10px;border-radius:10px;font-size:12px;font-weight:600}
.badge.completed,.badge.passed,.badge.pass{background:#e2f1e5;color:#2c6e3c}
.badge.failed,.badge.fail{background:#f7e1de;color:#9c2f2f}
.badge.skipped,.badge.not_run{background:#eceef2;color:#5b6270}
table{border-collapse:collapse;margin:8px 0;font-size:13px;width:100%}
td,th{border:1px solid #dfe2e8;padding:4px 10px;text-align:left;vertical-align:top}
th{background:#f0f2f5;font-weight:600}
.num{text-align:right;font-variant-numeric:tabular-nums}
.subtle{color:#5b6270;font-size:12px}
.panel.cert.pass{border-left:4px solid #3d8b4f}.panel.cert.fail{border-left:4px solid #b33a3a}
.cert-copy{font-size:13px;color:#3a4150;margin:4px 0 8px}
svg text{font-family:inherit}
"""

_MAX_TABLE_ROWS = 200


# -- generic pieces ----------------------------------------------------------


def _esc(v: Any) -> str:
    return html.escape(str(v))


def _fmt(v: Any) -> str:
    if isinstance(v, float):
        return f"{v:,.4f}".rstrip("0").rstrip(".") if v == v else "NaN"
    return str(v)


def _rows_of(table: Any) -> list[dict]:
    """Report payloads arrive as DataFrame (small aggregate), list[Row|dict],
    or plain dict — normalize to row dicts, bounded."""
    if isinstance(table, DataFrame):
        return [r.asDict(recursive=True) for r in table.limit(_MAX_TABLE_ROWS).collect()]
    if isinstance(table, Mapping):
        return [{"key": k, "value": v} for k, v in table.items()]
    if isinstance(table, Iterable) and not isinstance(table, (str, bytes)):
        out = []
        for r in table:
            out.append(r.asDict(recursive=True) if hasattr(r, "asDict") else dict(r) if isinstance(r, Mapping) else {"value": r})
            if len(out) >= _MAX_TABLE_ROWS:
                break
        return out
    return [{"value": table}]


def render_table(table: Any) -> str:
    rows = _rows_of(table)
    if not rows:
        return "<p class='subtle'>empty</p>"
    cols = list(rows[0].keys())
    head = "".join(f"<th>{_esc(c)}</th>" for c in cols)
    body = []
    for r in rows:
        tds = []
        for c in cols:
            v = r.get(c)
            cls = " class='num'" if isinstance(v, (int, float)) and not isinstance(v, bool) else ""
            tds.append(f"<td{cls}>{_esc(_fmt(v)) if v is not None else ''}</td>")
        body.append("<tr>" + "".join(tds) + "</tr>")
    return f"<table><thead><tr>{head}</tr></thead><tbody>{''.join(body)}</tbody></table>"


def _badge(status: str) -> str:
    s = str(status).lower()
    return f"<span class='badge {_esc(s)}'>{_esc(s.upper())}</span>"


def _tile(label: str, value: Any, tone: str = "") -> str:
    return f"<div class='tile {tone}'><div class='v'>{_esc(_fmt(value))}</div><div class='l'>{_esc(label)}</div></div>"


# -- inline SVG charts over aggregate rows -----------------------------------


def histogram_svg(bins: Any, width: int = 640, height: int = 180, title: str = "") -> str:
    """Bar chart from ``visuals.histogram`` output rows (bin, lo, hi, count).
    Input is the AGGREGATE (≤ a few hundred bins) — never raw data."""
    rows = sorted(_rows_of(bins), key=lambda r: r.get("bin", 0))
    if not rows:
        return ""
    pad, axis = 8, 28
    max_c = max(int(r["count"]) for r in rows) or 1
    n = len(rows)
    bw = (width - 2 * pad) / n
    parts = [
        f"<svg viewBox='0 0 {width} {height + axis}' width='{width}' height='{height + axis}' role='img'>"
    ]
    if title:
        parts.append(f"<text x='{pad}' y='14' font-size='12' fill='#5b6270'>{_esc(title)}</text>")
    for i, r in enumerate(rows):
        c = int(r["count"])
        h = (height - 24) * c / max_c
        x, y = pad + i * bw, height - h
        parts.append(
            f"<rect x='{x:.1f}' y='{y:.1f}' width='{max(bw - 1, 1):.1f}' height='{h:.1f}' fill='#4878a8'>"
            f"<title>[{_fmt(r['lo'])}, {_fmt(r['hi'])}): {c}</title></rect>"
        )
    lo0, hi1 = rows[0]["lo"], rows[-1]["hi"]
    parts.append(f"<text x='{pad}' y='{height + 16}' font-size='11' fill='#5b6270'>{_fmt(lo0)}</text>")
    parts.append(
        f"<text x='{width - pad}' y='{height + 16}' font-size='11' fill='#5b6270' text-anchor='end'>{_fmt(hi1)}</text>"
    )
    parts.append("</svg>")
    return "".join(parts)


def boxplot_svg(stats: Any, width: int = 640, row_h: int = 44) -> str:
    """Horizontal box-and-whisker per column from ``visuals.boxplot_stats``
    rows (column, min, q1, median, q3, max, lo_whisker, hi_whisker,
    n_outliers) — nine numbers per column, not data."""
    rows = _rows_of(stats)
    if not rows:
        return ""
    pad_l, pad_r = 130, 16
    height = row_h * len(rows) + 24
    parts = [f"<svg viewBox='0 0 {width} {height}' width='{width}' height='{height}' role='img'>"]
    for i, r in enumerate(rows):
        lo, hi = float(r["min"]), float(r["max"])
        span = (hi - lo) or 1.0

        def x(v: float) -> float:
            return pad_l + (width - pad_l - pad_r) * (float(v) - lo) / span

        cy = 20 + i * row_h
        q1, q3, med = x(r["q1"]), x(r["q3"]), x(r["median"])
        wlo, whi = x(r["lo_whisker"]), x(r["hi_whisker"])
        parts.append(
            f"<text x='4' y='{cy + 4}' font-size='12' fill='#1f2430'>{_esc(r['column'])}</text>"
            f"<line x1='{wlo:.1f}' x2='{whi:.1f}' y1='{cy}' y2='{cy}' stroke='#5b6270'/>"
            f"<line x1='{wlo:.1f}' x2='{wlo:.1f}' y1='{cy - 7}' y2='{cy + 7}' stroke='#5b6270'/>"
            f"<line x1='{whi:.1f}' x2='{whi:.1f}' y1='{cy - 7}' y2='{cy + 7}' stroke='#5b6270'/>"
            f"<rect x='{q1:.1f}' y='{cy - 10}' width='{max(q3 - q1, 1):.1f}' height='20' fill='#9ec2e0' stroke='#4878a8'>"
            f"<title>{_esc(r['column'])}: q1={_fmt(r['q1'])} med={_fmt(r['median'])} q3={_fmt(r['q3'])} "
            f"fliers={r.get('n_outliers', 0)}</title></rect>"
            f"<line x1='{med:.1f}' x2='{med:.1f}' y1='{cy - 10}' y2='{cy + 10}' stroke='#1f2430' stroke-width='2'/>"
        )
    parts.append("</svg>")
    return "".join(parts)


def comparison_hist_svg(
    before: Any, after: Any, width: int = 640, height: int = 200, title: str = ""
) -> str:
    """Before/after distribution overlay from ``visuals.histogram_pair``
    output (shared bin edges) — the aggregate analogue of the reference's
    KDE-over-KDE imputation comparison (m08_visuals/comparison_plots.py:30-56).
    Two translucent bar series on one axis; input is ≤ bins rows per side."""
    rows_b = sorted(_rows_of(before), key=lambda r: r.get("bin", 0))
    rows_a = sorted(_rows_of(after), key=lambda r: r.get("bin", 0))
    if not rows_b and not rows_a:
        return ""
    n = max(len(rows_b), len(rows_a))
    pad, axis, legend_h = 8, 28, 18
    max_c = max(
        [int(r["count"]) for r in rows_b] + [int(r["count"]) for r in rows_a] + [1]
    )
    bw = (width - 2 * pad) / max(n, 1)
    parts = [
        f"<svg viewBox='0 0 {width} {height + axis + legend_h}' width='{width}' "
        f"height='{height + axis + legend_h}' role='img'>"
    ]
    if title:
        parts.append(f"<text x='{pad}' y='14' font-size='12' fill='#5b6270'>{_esc(title)}</text>")
    parts.append(
        f"<rect x='{pad}' y='{height + axis + 4}' width='10' height='10' fill='#4878a8' opacity='0.55'/>"
        f"<text x='{pad + 14}' y='{height + axis + 13}' font-size='11' fill='#5b6270'>before</text>"
        f"<rect x='{pad + 72}' y='{height + axis + 4}' width='10' height='10' fill='#c96a3b' opacity='0.55'/>"
        f"<text x='{pad + 86}' y='{height + axis + 13}' font-size='11' fill='#5b6270'>after</text>"
    )
    for rows, color in ((rows_b, "#4878a8"), (rows_a, "#c96a3b")):
        for i, r in enumerate(rows):
            c = int(r["count"])
            if c == 0:
                continue
            h = (height - 24) * c / max_c
            x, y = pad + i * bw, height - h
            parts.append(
                f"<rect x='{x:.1f}' y='{y:.1f}' width='{max(bw - 1, 1):.1f}' height='{h:.1f}' "
                f"fill='{color}' opacity='0.55'>"
                f"<title>[{_fmt(r['lo'])}, {_fmt(r['hi'])}): {c}</title></rect>"
            )
    edge_rows = rows_b or rows_a
    parts.append(
        f"<text x='{pad}' y='{height + 16}' font-size='11' fill='#5b6270'>{_fmt(edge_rows[0]['lo'])}</text>"
        f"<text x='{width - pad}' y='{height + 16}' font-size='11' fill='#5b6270' "
        f"text-anchor='end'>{_fmt(edge_rows[-1]['hi'])}</text>"
        "</svg>"
    )
    return "".join(parts)


def comparison_counts_svg(pair_counts: Any, width: int = 640, title: str = "") -> str:
    """Grouped before/after bars from ``visuals.top_categories_pair`` rows
    (value, before, after) — the reference's categorical imputation compare
    (comparison_plots.py:73-113). ≤ top_n categories, two bars each."""
    rows = _rows_of(pair_counts)
    if not rows:
        return ""
    pad_l, pad_r, row_h = 150, 16, 36
    height = row_h * len(rows) + 30
    max_c = max([int(r["before"]) for r in rows] + [int(r["after"]) for r in rows] + [1])
    span_w = width - pad_l - pad_r
    parts = [f"<svg viewBox='0 0 {width} {height}' width='{width}' height='{height}' role='img'>"]
    if title:
        parts.append(f"<text x='4' y='14' font-size='12' fill='#5b6270'>{_esc(title)}</text>")
    for i, r in enumerate(rows):
        y0 = 22 + i * row_h
        label = "null" if r.get("value") is None else str(r["value"])
        b, a = int(r["before"]), int(r["after"])
        parts.append(
            f"<text x='4' y='{y0 + 14}' font-size='12' fill='#1f2430'>{_esc(label[:22])}</text>"
            f"<rect x='{pad_l}' y='{y0}' width='{span_w * b / max_c:.1f}' height='10' fill='#4878a8'>"
            f"<title>before: {b}</title></rect>"
            f"<rect x='{pad_l}' y='{y0 + 12}' width='{span_w * a / max_c:.1f}' height='10' fill='#c96a3b'>"
            f"<title>after: {a}</title></rect>"
        )
    parts.append("</svg>")
    return "".join(parts)


# -- certification views ------------------------------------------------------


def _display_name(name: str) -> str:
    return str(name).replace("_", " ").title()


def certification_section(result: Mapping[str, Any], gate_name: str = "Validation Gate") -> str:
    """Certification fragment from a ``run_validation``/``run_final_audit``
    result dict (reference dashboard_certification.py:156-253: hero verdict,
    stat cards, per-rule status pills, failure drill-downs). Driver-side only —
    every number here was already aggregated by the validation pass."""
    # run_final_audit nests the validation result; accept either shape
    cert = result.get("certification_results", result)
    rules: Mapping[str, Any] = cert.get("rules", {}) or {}
    checks = {k: v for k, v in rules.items() if k != "__any_rule__"}
    failed = [n for n, r in checks.items() if int(r.get("violations", 0)) > 0]
    passed_n = len(checks) - len(failed)
    issue_units = sum(int(checks[n].get("violations", 0)) for n in failed)
    coverage = rules.get("__any_rule__", {}).get("coverage_pct", "N/A")
    schema = result.get("schema", cert.get("schema", {})) or {}
    null_audit = result.get("null_audit_results")
    certified = bool(result.get("certified", cert.get("passed", not failed)))
    tone = "pass" if certified else "fail"

    out = [
        f"<div class='panel cert {tone}'>",
        f"<h2>{_esc(gate_name)} {_badge('pass' if certified else 'fail')}</h2>",
        f"<p class='cert-copy'>{'Certification criteria satisfied — safe to promote.' if certified else 'Review the failed rules and drill-down evidence below before promoting.'}</p>",
        "<div class='tiles'>",
        _tile("rules failed", len(failed), "fail" if failed else "pass"),
        _tile("rules passed", passed_n, "pass"),
        _tile("issue units", issue_units, "fail" if issue_units else "pass"),
        _tile("row coverage %", coverage if coverage != "N/A" else "N/A", "warn" if failed else "pass"),
        _tile("next step", "Repair" if not certified else "Proceed", tone),
        "</div>",
    ]

    if checks:
        out.append("<h3>Rules summary</h3>")
        out.append(
            render_table(
                [
                    {
                        "rule": _display_name(n),
                        "violations": int(r.get("violations", 0)),
                        "rows": int(r.get("rows", 0)),
                        "status": "Pass" if n not in failed else f"Fail ({int(r.get('violations', 0))} issues)",
                    }
                    for n, r in checks.items()
                ]
            )
        )

    # failure drill-downs (schema first — reference's schema_conformity card)
    if schema and not schema.get("passed", True):
        out.append("<h3>Failure detail: schema conformity</h3>")
        out.append(
            render_table(
                [
                    {"issue": "Missing", "columns": ", ".join(schema.get("missing_columns", [])) or "None"},
                    {"issue": "Unexpected", "columns": ", ".join(schema.get("unexpected_columns", [])) or "None"},
                ]
            )
        )
    if null_audit and not null_audit.get("passed", True):
        out.append("<h3>Failure detail: disallowed nulls</h3>")
        out.append(
            render_table(
                [{"column": c, "null_count": n} for c, n in sorted(null_audit.get("failures", {}).items())]
            )
        )
    for n in failed:
        r = checks[n]
        out.append(
            f"<p class='subtle'><strong>{_esc(_display_name(n))}</strong>: "
            f"{int(r.get('violations', 0))} of {int(r.get('rows', 0))} rows violate this rule.</p>"
        )
    out.append("</div>")
    return "".join(out)


# -- pipeline dashboard ------------------------------------------------------

_MODULE_REPORT_KEYS = {
    "diagnostics": "diagnostics",
    "validation": "validation",
    "normalization": "normalization",
    "validation_gatekeeper": "validation_gatekeeper",
    "imputation": "imputation",
    "final_audit": "final_audit",
}


def render_pipeline_dashboard(
    run: Any,
    title: str = "Pipeline Dashboard",
    charts: Mapping[str, str] | None = None,
) -> str:
    """Full pipeline review page from a :class:`PipelineRun`
    (reference render_pipeline_dashboard, dashboard_views.py:657-760):
    banner → metric tiles → per-module panels (status badge + summary +
    report table) → optional chart sections (pre-rendered SVG strings)."""
    history = list(getattr(run, "history", []))
    reports = dict(getattr(run, "reports", {}))
    health = dict(getattr(run, "health", {}) or {})

    statuses = [h["status"] for h in history]
    n_fail = sum(1 for s in statuses if s == "failed")
    final_status = "failed" if n_fail else ("completed" if history else "not_run")
    score = health.get("overall_score", health.get("score", "N/A"))
    h_status = str(health.get("status", "unknown")).upper()

    banner_cls = "warn" if n_fail else ""
    out = [
        "<!DOCTYPE html><html><head><meta charset='utf-8'>",
        f"<title>{_esc(title)}</title><style>{_CSS}</style></head><body><div class='wrap'>",
        f"<h1>{_esc(title)}</h1>",
        f"<p class='subtle'>run_id: {_esc(getattr(run, 'run_id', ''))}</p>",
        f"<div class='banner {banner_cls}'>",
        f"<div class='banner-item'><strong>Final status:</strong> {_esc(final_status.upper())}</div>",
        f"<div class='banner-item'><strong>Health:</strong> {_esc(score)} ({_esc(h_status)})</div>",
        f"<div class='banner-item'><strong>Modules:</strong> {len(history)}</div>",
        "</div>",
        "<div class='tiles'>",
        _tile("modules run", len(history)),
        _tile("completed", sum(1 for s in statuses if s == "completed"), "pass"),
        _tile("failed", n_fail, "fail" if n_fail else "pass"),
        _tile("health score", score, "pass" if str(h_status).lower() in ("green", "good", "excellent") else "warn"),
        "</div>",
    ]

    for h in history:
        module = h["module"]
        out.append("<div class='panel'>")
        out.append(f"<h2>{_esc(module)} {_badge(h['status'])}</h2>")
        summary = h.get("summary") or {}
        if summary:
            out.append("<h3>Summary</h3>")
            out.append(render_table(summary))
        rpt = reports.get(_MODULE_REPORT_KEYS.get(module, module))
        if rpt is not None and rpt != summary:
            out.append("<h3>Report</h3>")
            out.append(render_table(rpt))
        out.append("</div>")

    # certification sections (reference dashboard_certification.py views):
    # one per validation-shaped report, final audit last
    for key, gate in (
        ("validation", "M02 Validation Gate"),
        ("validation_gatekeeper", "Validation Gatekeeper"),
        ("final_audit", "Final Audit Certification"),
    ):
        res = reports.get(key)
        if isinstance(res, Mapping) and ("rules" in res or "certification_results" in res):
            out.append(certification_section(res, gate_name=gate))

    for name, svg in (charts or {}).items():
        if not svg:
            continue
        out.append(f"<div class='panel'><h2>{_esc(name)}</h2>{svg}</div>")

    out.append("</div></body></html>")
    return "\n".join(out)


def export_pipeline_dashboard(
    run: Any,
    path: str,
    df: DataFrame | None = None,
    viz_columns: list[str] | None = None,
    title: str = "Pipeline Dashboard",
    bins: int = 30,
    compare: Mapping[str, tuple[DataFrame, DataFrame]] | None = None,
    compare_categorical: Mapping[str, tuple[DataFrame, DataFrame]] | None = None,
) -> str:
    """Render and write the dashboard. When ``df``/``viz_columns`` are given,
    compute histogram + box aggregates for those columns (bounded single-pass
    aggs via operators/visuals) and embed them as inline SVG.

    ``compare`` maps a numeric column name to a (df_before, df_after) pair —
    each becomes a shared-bin before/after overlay (reference comparison
    plots); ``compare_categorical`` does the same with grouped count bars.
    All chart inputs are aggregates: page size does not grow with data size."""
    charts: dict[str, str] = {}
    if df is not None and viz_columns:
        from analyst_toolkit_spark.operators import visuals as M_vis

        box = M_vis.boxplot_stats(df, viz_columns)
        charts["Distribution overview (box)"] = boxplot_svg(box)
        for c in viz_columns:
            charts[f"Histogram — {c}"] = histogram_svg(M_vis.histogram(df, c, bins=bins), title=c)
    if compare:
        from analyst_toolkit_spark.operators import visuals as M_vis

        for c, (d0, d1) in compare.items():
            hb, ha = M_vis.histogram_pair(d0, d1, c, bins=bins)
            charts[f"Before/after — {c}"] = comparison_hist_svg(hb, ha, title=c)
    if compare_categorical:
        from analyst_toolkit_spark.operators import visuals as M_vis

        for c, (d0, d1) in compare_categorical.items():
            pair = M_vis.top_categories_pair(d0, d1, c)
            charts[f"Value counts before/after — {c}"] = comparison_counts_svg(pair, title=c)
    page = render_pipeline_dashboard(run, title=title, charts=charts)
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as fh:
        fh.write(page)
    return path


# -- m08 visual-suite renderers (reference distributions.py / summary_plots.py)
# All inputs are AGGREGATES (profile rows, corr pairs, kde grid, top-N
# counts) — the render plane never touches the distributed table.


def kde_svg(grid: Any, width: int = 640, height: int = 160, title: str = "") -> str:
    """Density polyline from ``visuals.kde_grid`` rows (x, density) — the
    continuous-distribution overlay (distributions.py:28-47)."""
    rows = sorted(_rows_of(grid), key=lambda r: r["x"])
    if not rows:
        return ""
    pad = 8
    max_d = max(float(r["density"]) for r in rows) or 1.0
    xs = [float(r["x"]) for r in rows]
    lo, hi = xs[0], xs[-1]
    span = (hi - lo) or 1.0
    pts = " ".join(
        f"{pad + (width - 2 * pad) * (x - lo) / span:.1f},{height - (height - 24) * float(r['density']) / max_d:.1f}"
        for x, r in zip(xs, rows)
    )
    t = f"<text x='{pad}' y='14' font-size='12' fill='#5b6270'>{_esc(title)}</text>" if title else ""
    return (
        f"<svg viewBox='0 0 {width} {height + 20}' width='{width}' height='{height + 20}' role='img'>{t}"
        f"<polyline points='{pts}' fill='none' stroke='#4878a8' stroke-width='1.5'/>"
        f"<text x='{pad}' y='{height + 14}' font-size='11' fill='#5b6270'>{_fmt(lo)}</text>"
        f"<text x='{width - pad}' y='{height + 14}' font-size='11' fill='#5b6270' text-anchor='end'>{_fmt(hi)}</text>"
        "</svg>"
    )


def bars_svg(counts: Any, label_col: str, count_col: str = "count", width: int = 640, title: str = "") -> str:
    """Horizontal bar chart from count rows — categorical distribution /
    dtype composition / duplication summary (distributions.py:50,
    summary_plots.py:76,103)."""
    rows = _rows_of(counts)
    if not rows:
        return ""
    pad_l, pad_r, row_h = 150, 16, 22
    height = row_h * len(rows) + 28
    max_c = max(int(r[count_col]) for r in rows) or 1
    span_w = width - pad_l - pad_r
    parts = [f"<svg viewBox='0 0 {width} {height}' width='{width}' height='{height}' role='img'>"]
    if title:
        parts.append(f"<text x='4' y='14' font-size='12' fill='#5b6270'>{_esc(title)}</text>")
    for i, r in enumerate(rows):
        y0 = 22 + i * row_h
        label = "null" if r.get(label_col) is None else str(r[label_col])
        c = int(r[count_col])
        parts.append(
            f"<text x='4' y='{y0 + 11}' font-size='12' fill='#1f2430'>{_esc(label[:22])}</text>"
            f"<rect x='{pad_l}' y='{y0}' width='{max(span_w * c / max_c, 1):.1f}' height='14' fill='#4878a8'>"
            f"<title>{_esc(label)}: {c}</title></rect>"
            f"<text x='{pad_l + span_w * c / max_c + 4:.1f}' y='{y0 + 11}' font-size='11' fill='#5b6270'>{c}</text>"
        )
    parts.append("</svg>")
    return "".join(parts)


def missingness_svg(profile_rows: Any, width: int = 640, title: str = "Missingness") -> str:
    """Null-percentage bars per column from profile aggregate rows
    (summary_plots.py:30-50). Red past 50% nulls, amber past 10%."""
    rows = _rows_of(profile_rows)
    if not rows:
        return ""
    pad_l, pad_r, row_h = 150, 46, 22
    height = row_h * len(rows) + 28
    span_w = width - pad_l - pad_r
    parts = [f"<svg viewBox='0 0 {width} {height}' width='{width}' height='{height}' role='img'>"]
    parts.append(f"<text x='4' y='14' font-size='12' fill='#5b6270'>{_esc(title)}</text>")
    for i, r in enumerate(rows):
        pct = float(r.get("null_pct") or 0.0)
        pct = pct * 100 if pct <= 1.0 else pct
        y0 = 22 + i * row_h
        color = "#b33a3a" if pct > 50 else "#c96a3b" if pct > 10 else "#3d8b4f"
        parts.append(
            f"<text x='4' y='{y0 + 11}' font-size='12' fill='#1f2430'>{_esc(str(r['column'])[:22])}</text>"
            f"<rect x='{pad_l}' y='{y0}' width='{span_w:.1f}' height='14' fill='#eceef2'/>"
            f"<rect x='{pad_l}' y='{y0}' width='{max(span_w * pct / 100, 0):.1f}' height='14' fill='{color}'>"
            f"<title>{_esc(r['column'])}: {pct:.2f}% null</title></rect>"
            f"<text x='{pad_l + span_w + 4:.1f}' y='{y0 + 11}' font-size='11' fill='#5b6270'>{pct:.1f}%</text>"
        )
    parts.append("</svg>")
    return "".join(parts)


def heatmap_svg(corr_pairs: Any, width: int = 520, title: str = "Correlation") -> str:
    """Correlation heatmap from ``profile.correlation_matrix`` long rows
    (col_x, col_y, corr) — summary_plots.py:53-73. Blue negative, white
    zero, red positive; upper-triangle input mirrored."""
    rows = _rows_of(corr_pairs)
    if not rows:
        return ""
    cols = sorted({r["col_x"] for r in rows} | {r["col_y"] for r in rows})
    idx = {c: i for i, c in enumerate(cols)}
    vals: dict[tuple[int, int], float] = {}
    for r in rows:
        if r.get("corr") is None:
            continue
        a, b = idx[r["col_x"]], idx[r["col_y"]]
        vals[(a, b)] = vals[(b, a)] = float(r["corr"])
    n = len(cols)
    pad_l, pad_t = 130, 24
    cell = max(min((width - pad_l) // max(n, 1), 46), 18)
    w = pad_l + cell * n + 8
    h = pad_t + cell * n + 110

    def _color(v: float) -> str:
        v = max(-1.0, min(1.0, v))
        if v >= 0:
            g = int(255 - 175 * v)
            return f"rgb(255,{g},{g})"
        g = int(255 + 175 * v)
        return f"rgb({g},{g},255)"

    parts = [f"<svg viewBox='0 0 {w} {h}' width='{w}' height='{h}' role='img'>"]
    parts.append(f"<text x='4' y='14' font-size='12' fill='#5b6270'>{_esc(title)}</text>")
    for c, i in idx.items():
        parts.append(
            f"<text x='{pad_l - 6}' y='{pad_t + i * cell + cell / 2 + 4:.1f}' font-size='11' "
            f"fill='#1f2430' text-anchor='end'>{_esc(c[:18])}</text>"
            f"<text x='{pad_l + i * cell + cell / 2:.1f}' y='{pad_t + n * cell + 12}' font-size='11' "
            f"fill='#1f2430' transform='rotate(45 {pad_l + i * cell + cell / 2:.1f} {pad_t + n * cell + 12})'>{_esc(c[:18])}</text>"
        )
    for (i, j), v in vals.items():
        parts.append(
            f"<rect x='{pad_l + j * cell}' y='{pad_t + i * cell}' width='{cell - 1}' height='{cell - 1}' "
            f"fill='{_color(v)}'><title>{_esc(cols[i])} × {_esc(cols[j])}: {v:.3f}</title></rect>"
        )
        if cell >= 30:
            parts.append(
                f"<text x='{pad_l + j * cell + cell / 2:.1f}' y='{pad_t + i * cell + cell / 2 + 4:.1f}' "
                f"font-size='10' fill='#1f2430' text-anchor='middle'>{v:.2f}</text>"
            )
    parts.append("</svg>")
    return "".join(parts)


def export_visual_report(
    df: DataFrame,
    path: str,
    numeric_columns: list[str] | None = None,
    categorical_columns: list[str] | None = None,
    title: str = "Visual Report",
    bins: int = 30,
    top_n: int = 12,
) -> str:
    """The m08 visual suite as one standalone page (reference
    run_visuals.py artifact): missingness, dtype composition, correlation
    heatmap, per-numeric histogram + KDE + box, per-categorical top-N bars.
    Every chart feeds from a bounded aggregate; the page size is independent
    of table size."""
    from analyst_toolkit_spark.operators import profile as M_prof
    from analyst_toolkit_spark.operators import visuals as M_vis

    nums = numeric_columns if numeric_columns is not None else M_vis.numeric_columns(df)
    cats = (
        categorical_columns
        if categorical_columns is not None
        else [c for c, t in df.dtypes if t == "string"][:6]
    )
    prof = M_prof.profile(df, columns=list(dict.fromkeys([*nums, *cats])) or None)
    sections: list[tuple[str, str]] = [
        ("Missingness", missingness_svg(prof)),
        ("Dtype composition", bars_svg(M_vis.dtype_composition(df), "dtype", "n_columns")),
    ]
    if len(nums) >= 2:
        sections.append(("Correlation", heatmap_svg(M_prof.correlation_matrix(df, nums))))
    if nums:
        box = M_vis.boxplot_stats(df, nums)
        sections.append(("Distribution overview (box)", boxplot_svg(box)))
    for c in nums:
        sections.append((f"Histogram — {c}", histogram_svg(M_vis.histogram(df, c, bins=bins), title=c)))
        sections.append((f"Density — {c}", kde_svg(M_vis.kde_grid(df, c), title=c)))
    for c in cats:
        sections.append((f"Top categories — {c}", bars_svg(M_vis.top_categories(df, c, top_n=top_n), "value", title=c)))

    out = [
        "<!DOCTYPE html><html><head><meta charset='utf-8'>",
        f"<title>{_esc(title)}</title><style>{_CSS}</style></head><body><div class='wrap'>",
        f"<h1>{_esc(title)}</h1>",
    ]
    for name, svg in sections:
        if svg:
            out.append(f"<div class='panel'><h2>{_esc(name)}</h2>{svg}</div>")
    out.append("</div></body></html>")
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as fh:
        fh.write("\n".join(out))
    return path
