"""HTML dashboard renderer: per-module panels, metric tiles, inline-SVG
charts from aggregate rows (reference dashboard_views.py surface)."""

import pytest

from analyst_toolkit_spark.ingest import load_table
from analyst_toolkit_spark.plans import config as C
from analyst_toolkit_spark.plans.pipeline import run_pipeline
from analyst_toolkit_spark.reporting import (
    boxplot_svg,
    export_pipeline_dashboard,
    histogram_svg,
    render_pipeline_dashboard,
    render_table,
)


@pytest.fixture(scope="module")
def pipeline_run(spark, sf_dir):
    df = load_table(spark, sf_dir, "orders")
    master = {
        "run_id": "dash_test",
        "modules": {
            "diagnostics": {"run": True},
            "duplicates": {"run": True, "config": {"deduplication": {"subset_columns": ["o_orderkey"]}}},
            "imputation": {
                "run": True,
                "config": {"imputation": {"rules": {"strategies": {"o_totalprice": "median"}}}},
            },
        },
    }
    return run_pipeline(spark, C.pipeline_config(master), df)


def test_dashboard_has_module_sections_and_tiles(pipeline_run):
    page = render_pipeline_dashboard(pipeline_run, title="QA run")
    assert "<!DOCTYPE html>" in page and "</html>" in page
    for module in ("diagnostics", "duplicates", "imputation"):
        assert f">{module} " in page or f">{module}<" in page
    assert "badge completed" in page
    assert "health score" in page
    assert ">100<" in page or ">100.0<" in page  # overall_score surfaced, not N/A
    # diagnostics report table embedded (profile columns)
    assert "null_pct" in page


def test_dashboard_escapes_html(pipeline_run):
    page = render_pipeline_dashboard(pipeline_run, title="<script>alert(1)</script>")
    assert "<script>alert(1)</script>" not in page
    assert "&lt;script&gt;" in page


def test_histogram_svg_from_aggregate(spark, sf_dir):
    from analyst_toolkit_spark.operators.visuals import histogram

    bins = histogram(load_table(spark, sf_dir, "lineitem"), "l_extendedprice", bins=20)
    svg = histogram_svg(bins, title="l_extendedprice")
    assert svg.startswith("<svg") and svg.endswith("</svg>")
    assert svg.count("<rect") == 20


def test_boxplot_svg_from_aggregate(spark, sf_dir):
    from analyst_toolkit_spark.operators.visuals import boxplot_stats

    stats = boxplot_stats(load_table(spark, sf_dir, "lineitem"), ["l_quantity", "l_extendedprice"])
    svg = boxplot_svg(stats)
    assert svg.count("<rect") == 2  # one box per column
    assert "l_quantity" in svg and "l_extendedprice" in svg


def test_export_with_charts(pipeline_run, spark, sf_dir, tmp_path):
    df = load_table(spark, sf_dir, "orders")
    path = export_pipeline_dashboard(
        pipeline_run, str(tmp_path / "dash.html"), df=df, viz_columns=["o_totalprice"], title="QA"
    )
    page = open(path).read()
    assert "Histogram — o_totalprice" in page
    assert "Distribution overview (box)" in page
    assert page.count("<svg") == 2


def test_render_table_handles_shapes(spark):
    assert "<table>" in render_table({"a": 1, "b": 2.5})
    assert "<table>" in render_table([{"x": 1}, {"x": None}])
    assert "empty" in render_table([])
    df = spark.range(3).selectExpr("id", "id * 1.5 as v")
    html = render_table(df)
    assert html.count("<tr>") == 4  # header + 3 rows


def test_toolkit_export_dashboard_tool(spark, sf_dir, tmp_path):
    from analyst_toolkit_spark.tools import Toolkit

    tk = Toolkit(spark)
    tk.call("diagnostics", input_path=f"{sf_dir}/orders.parquet")
    res = tk.call(
        "export_dashboard",
        output_path=str(tmp_path / "tk.html"),
        input_path=f"{sf_dir}/orders.parquet",
        viz_columns=["o_totalprice"],
    )
    assert res["status"] == "pass"
    page = open(res["path"]).read()
    assert "diagnostics" in page and "<svg" in page


# -- certification + comparison views (round 4: reference ---------------------
# -- dashboard_certification.py + m08_visuals/comparison_plots.py parity) -----


def test_certification_section_pass_and_fail(spark, sf_dir):
    from analyst_toolkit_spark.operators.validation import run_validation
    from analyst_toolkit_spark.plans.config import validation_config
    from analyst_toolkit_spark.reporting import certification_section

    df = load_table(spark, sf_dir, "orders")
    ok_cfg, _ = validation_config(
        {"validation": {"rules": {"disallowed_null_columns": ["o_orderkey"]}}}
    )
    res = run_validation(df, ok_cfg)
    frag = certification_section(res)
    assert "PASS" in frag and "Proceed" in frag and "rules failed" in frag

    bad_cfg, _ = validation_config(
        {
            "validation": {
                "rules": {
                    "range_checks": {"o_totalprice": {"min": 0, "max": 1}},
                    "expected_columns": ["o_orderkey", "not_a_column"],
                }
            }
        }
    )
    res2 = run_validation(df, bad_cfg)
    frag2 = certification_section(res2)
    assert "FAIL" in frag2 and "Repair" in frag2
    assert "schema conformity" in frag2 and "not_a_column" in frag2
    # issue units tile carries the range rule's violation count
    viol = int(res2["rules"]["range:o_totalprice"]["violations"])
    assert viol > 0 and f">{viol}<" in frag2


def test_final_audit_certification_in_pipeline_dashboard(spark, sf_dir):
    from analyst_toolkit_spark.plans.pipeline import run_pipeline

    df = load_table(spark, sf_dir, "orders")
    master = {
        "run_id": "cert_dash",
        "modules": {
            "validation": {
                "run": True,
                "config": {"validation": {"rules": {"disallowed_null_columns": ["o_orderkey"]}}},
            },
            "final_audit": {
                "run": True,
                "config": {
                    "final_audit": {
                        "certification": {
                            "schema_validation": {"rules": {"disallowed_null_columns": ["o_orderkey"]}}
                        }
                    }
                },
            },
        },
    }
    run = run_pipeline(spark, C.pipeline_config(master), df)
    page = render_pipeline_dashboard(run)
    assert "M02 Validation Gate" in page
    assert "Final Audit Certification" in page
    assert "Rules summary" in page


def test_histogram_pair_shared_edges(spark, sf_dir):
    from analyst_toolkit_spark.operators.visuals import histogram_pair

    orders = load_table(spark, sf_dir, "orders")
    before = orders.filter("o_totalprice < 200000")
    after = orders  # wider span — shared edges must cover it
    hb, ha = histogram_pair(before, after, "o_totalprice", bins=12)
    rb, ra = hb.collect(), ha.collect()
    assert len(rb) == len(ra) == 12
    for b, a in zip(rb, ra):
        assert b["lo"] == a["lo"] and b["hi"] == a["hi"]  # SHARED edges
    assert sum(r["count"] for r in ra) == after.count()


def test_comparison_hist_svg(spark, sf_dir):
    from analyst_toolkit_spark.operators.visuals import histogram_pair
    from analyst_toolkit_spark.reporting import comparison_hist_svg

    orders = load_table(spark, sf_dir, "orders")
    hb, ha = histogram_pair(orders.limit(100), orders.limit(500), "o_totalprice", bins=10)
    svg = comparison_hist_svg(hb, ha, title="o_totalprice")
    assert svg.startswith("<svg") and svg.endswith("</svg>")
    assert "before</text>" in svg and "after</text>" in svg
    assert "#4878a8" in svg and "#c96a3b" in svg  # both series drawn


def test_top_categories_pair_and_svg(spark, sf_dir):
    from analyst_toolkit_spark.operators.visuals import top_categories_pair
    from analyst_toolkit_spark.reporting import comparison_counts_svg

    cust = load_table(spark, sf_dir, "customer")
    before = cust.filter("c_mktsegment <> 'BUILDING'")
    pair = top_categories_pair(before, cust, "c_mktsegment")
    rows = {r["value"]: (r["before"], r["after"]) for r in pair.collect()}
    assert rows["BUILDING"][0] == 0 and rows["BUILDING"][1] > 0
    for v, (b, a) in rows.items():
        if v != "BUILDING":
            assert b == a
    svg = comparison_counts_svg(pair, title="c_mktsegment")
    assert svg.count("<rect") == 2 * len(rows)


def test_export_with_compare_charts(pipeline_run, spark, sf_dir, tmp_path):
    df = load_table(spark, sf_dir, "orders")
    path = export_pipeline_dashboard(
        pipeline_run,
        str(tmp_path / "cmp.html"),
        compare={"o_totalprice": (df.limit(200), df)},
        compare_categorical={"o_orderpriority": (df.limit(200), df)},
    )
    page = open(path).read()
    assert "Before/after — o_totalprice" in page
    assert "Value counts before/after — o_orderpriority" in page
    assert page.count("<svg") == 2


def test_toolkit_export_dashboard_compare(spark, sf_dir, tmp_path):
    from analyst_toolkit_spark.tools import Toolkit

    tk = Toolkit(spark)
    res = tk.call(
        "export_dashboard",
        output_path=str(tmp_path / "cmp_tool.html"),
        input_path=f"{sf_dir}/orders.parquet",
        compare_input_path=f"{sf_dir}/orders.parquet",
        compare_columns=["o_totalprice"],
        compare_categorical_columns=["o_orderpriority"],
    )
    assert res["status"] == "pass"
    page = open(res["path"]).read()
    assert "Before/after — o_totalprice" in page
    assert "Value counts before/after — o_orderpriority" in page


# -- m08 visual-suite renderers (round 4) -------------------------------------


def test_visual_report_page(spark, sf_dir, tmp_path):
    from analyst_toolkit_spark.reporting import export_visual_report

    df = load_table(spark, sf_dir, "customer")
    path = export_visual_report(
        df,
        str(tmp_path / "visual.html"),
        numeric_columns=["c_acctbal", "c_nationkey"],
        categorical_columns=["c_mktsegment"],
    )
    page = open(path).read()
    assert "Missingness" in page and "Dtype composition" in page
    assert "Correlation" in page
    assert "Histogram — c_acctbal" in page and "Density — c_acctbal" in page
    assert "Top categories — c_mktsegment" in page
    # at least: missing + dtype + corr + box + 2*hist + 2*kde + 1 cats = 9 svgs
    assert page.count("<svg") >= 9


def test_heatmap_svg_values(spark, sf_dir):
    from analyst_toolkit_spark.operators.profile import correlation_matrix
    from analyst_toolkit_spark.reporting import heatmap_svg

    corr = correlation_matrix(load_table(spark, sf_dir, "lineitem"), ["l_quantity", "l_extendedprice"])
    svg = heatmap_svg(corr)
    assert svg.count("<rect") == 4  # 2x2 mirrored cells
    assert "l_quantity" in svg and "1.00" in svg  # diagonal = 1


def test_missingness_svg_tones(spark):
    from analyst_toolkit_spark.reporting import missingness_svg

    rows = [
        {"column": "ok", "null_pct": 0.01},
        {"column": "warn", "null_pct": 0.2},
        {"column": "bad", "null_pct": 0.8},
    ]
    svg = missingness_svg(rows)
    assert "#3d8b4f" in svg and "#c96a3b" in svg and "#b33a3a" in svg


def test_kde_and_bars_svg(spark, sf_dir):
    from analyst_toolkit_spark.operators.visuals import kde_grid, top_categories
    from analyst_toolkit_spark.reporting import bars_svg, kde_svg

    df = load_table(spark, sf_dir, "orders")
    svg = kde_svg(kde_grid(df, "o_totalprice", grid_points=50), title="o_totalprice")
    assert "<polyline" in svg
    svg2 = bars_svg(top_categories(df, "o_orderpriority", top_n=5), "value")
    assert svg2.count("<rect") == 5
