"""Sources & sinks (SURVEY §2.1).

Data plane (S1-S7, S10): Spark readers/writers — parquet-first, checkpoints
replace the reference's joblib pickles (m00_utils/load_data.py:45-62 →
``spark.read.parquet``; never pickle). Cloud storage (S4/S11,
mcp_server/io_storage.py:84-133) is a path-scheme concern: ``gs://``/``s3a://``
URIs go straight to ``spark.read`` when the connector jar is on the cluster —
the reference's manual blob-list-and-concat disappears because multi-file scan
is native — and artifact uploads (``storage.upload_artifact``) copy through the
same Hadoop ``FileSystem`` (``hadoop_fs``).

Report plane (S8/S9, m00_utils/export_utils.py:30-131): reports are SMALL
collected aggregates by construction (profile rows, audit tables), so the
driver-side render is not a scale concern. Excel needs openpyxl — gated behind
an import-try; CSV always works. The HTML dashboard sink is
``reporting.export_pipeline_dashboard``.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession

REPORT_ROW_CAP = 10_000  # defensive cap: report tables must be aggregates, not data dumps


def save_output(
    df: DataFrame,
    path: str,
    fmt: str | None = None,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """S7 data sink. Format from extension when not given; directory output
    (distributed write — no driver collect)."""
    fmt = fmt or ("csv" if path.endswith(".csv") else "json" if path.endswith(".json") else "parquet")
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if fmt == "csv":
        writer.option("header", "true").csv(path)
    elif fmt == "json":
        writer.json(path)
    else:
        writer.parquet(path)


def cut(df: DataFrame, *, durable_dir: str | None = None, name: str) -> DataFrame:
    """S10/S5 lineage cut — replaces the reference's joblib checkpoint
    pickles. The returned frame plans from the cut, not from ``df``'s
    lineage.

    With no ``durable_dir`` it is ``localCheckpoint(eager=False)``: blocks
    are executor-local (lost with the executor), and the call is not lazy —
    it runs the shuffle and broadcast stages of ``df``'s subtree before it
    returns, and the caller's next action runs the final stage. With
    ``durable_dir`` it is a parquet write to ``{durable_dir}/{name}``
    (overwrite) that survives executor loss, and the returned read scans
    only the written files; it reads with ``df``'s schema, so it runs no
    schema-inference job (Spark reads every file-source column as
    nullable either way). ``name`` is only used for the durable cut."""
    if not durable_dir:
        return df.localCheckpoint(eager=False)
    path = f"{durable_dir.rstrip('/')}/{name}"
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.schema(df.schema).parquet(path)


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` — the Hadoop filesystem Spark itself
    would use for that URI. Raises when no filesystem serves its scheme."""
    hp = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hp.getFileSystem(spark._jsc.hadoopConfiguration()), hp


def remove(spark: SparkSession, path: str) -> None:
    """Best-effort recursive delete of every path matching the Hadoop glob
    ``path``, on any filesystem Spark can write to. Never raises: callers
    use it for retention and cleanup, which must not fail the work."""
    try:
        fs, hp = hadoop_fs(spark, path)
        for st in fs.globStatus(hp) or []:
            fs.delete(st.getPath(), True)
    except Exception:
        pass


def _to_pandas(table: Any):
    """Accept DataFrame / list[dict] / list[Row] / dict for report rendering."""
    import pandas as pd

    if isinstance(table, DataFrame):
        return table.limit(REPORT_ROW_CAP).toPandas()
    if isinstance(table, dict):
        return pd.DataFrame([{"key": k, "value": v} for k, v in table.items()])
    if isinstance(table, list):
        rows = [r.asDict() if hasattr(r, "asDict") else r for r in table]
        return pd.DataFrame(rows)
    return pd.DataFrame({"value": [table]})


def export_report(reports: dict[str, Any], out_dir: str, formats: tuple[str, ...] = ("csv",)) -> list[str]:
    """S8 multi-table report sink: one CSV per table (and one xlsx with a sheet
    per table when openpyxl is available). Returns written paths."""
    os.makedirs(out_dir, exist_ok=True)
    written: list[str] = []
    frames = {name: _to_pandas(tbl) for name, tbl in reports.items()}

    if "csv" in formats:
        for name, pdf in frames.items():
            path = os.path.join(out_dir, f"{name}.csv")
            pdf.to_csv(path, index=False)
            written.append(path)

    if "xlsx" in formats:
        try:
            import openpyxl  # noqa: F401
            import pandas as pd

            path = os.path.join(out_dir, "report.xlsx")
            with pd.ExcelWriter(path, engine="openpyxl") as xl:
                for name, pdf in frames.items():
                    pdf.to_excel(xl, sheet_name=name[:31], index=False)
            written.append(path)
        except ImportError:
            pass  # xlsx sink unavailable in this environment; CSV covers the contract

    return written


def load_any(spark: SparkSession, path: str, fmt: str | None = None) -> DataFrame:
    """Format-dispatching reader (S1-S4): csv/parquet/json/orc by extension
    unless forced. Every path or URI — a local file, a directory or prefix of
    part files, ``gs://``/``s3a://``/``hdfs://`` with the connector on the
    cluster — goes straight to Spark's distributed reader.
    """
    if fmt is None:
        # compressed variants keep their logical format (Spark's text-based
        # readers decompress .gz/.bz2/... transparently, one file per task)
        stem = path
        for codec_ext in (".gz", ".bz2", ".zst", ".snappy"):
            if stem.endswith(codec_ext):
                stem = stem[: -len(codec_ext)]
                break
        if stem.endswith(".csv"):
            fmt = "csv"
        elif stem.endswith((".json", ".jsonl", ".ndjson")):
            # .jsonl/.ndjson — the standard LLM-corpus layout (one doc per
            # line) — IS Spark's default json source format
            fmt = "json"
        elif stem.endswith(".parquet"):
            fmt = "parquet"
        elif stem.endswith(".orc"):
            fmt = "orc"
        else:
            # distributed writers emit extension-less directories: sniff the
            # part files through the filesystem Spark reads the path with,
            # so a URI names a directory the same way a local path does
            fs, parts = hadoop_fs(spark, path.rstrip("/") + "/part-*")
            exts = {os.path.splitext(st.getPath().getName())[1] for st in fs.globStatus(parts) or []}
            fmt = "csv" if ".csv" in exts else "json" if ".json" in exts else "orc" if ".orc" in exts else "parquet"
    if fmt == "csv":
        return spark.read.option("header", "true").option("inferSchema", "true").csv(path)
    if fmt == "json":
        return spark.read.json(path)
    if fmt == "orc":
        return spark.read.orc(path)
    return spark.read.parquet(path)
