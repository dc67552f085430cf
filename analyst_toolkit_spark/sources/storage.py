"""Artifact plane (S11): upload report artifacts to the configured bucket.

Reference semantics (mcp_server/io_storage.py:280-329): ``upload_artifact``
puts a blob at the retry-stable name ``prefix/path_root/module/filename``; a
failed upload that nonetheless exists at the destination counts as success
(idempotent retry); bucket/prefix come from the caller or
``ANALYST_REPORT_BUCKET`` / ``ANALYST_REPORT_PREFIX``.

The copy goes through the destination's Hadoop ``FileSystem`` — the same
connectors Spark reads and writes with — so any bucket URI the cluster can
write (``file://``, ``hdfs://``, or ``gs://``/``s3a://`` with the connector
jar) works. The blob's own content type is whatever the connector sets; the
ledger records the type the reference would have sent. Cloud *scans* (S4) need
nothing here: ``io.load_any`` hands every URI to Spark's reader.
"""

from __future__ import annotations

import json
import os
import posixpath
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from analyst_toolkit_spark.sources.io import hadoop_fs

_CONTENT_TYPES = {
    ".html": "text/html",
    ".csv": "text/csv",
    ".json": "application/json",
    ".parquet": "application/octet-stream",
    ".yaml": "application/yaml",
    ".yml": "application/yaml",
    ".txt": "text/plain",
    ".png": "image/png",
}


@dataclass
class ArtifactLedger:
    """Append-only record of uploaded artifacts (reference run-history
    analogue for the artifact plane). Optionally mirrored to a JSONL file."""

    path: str | None = None
    entries: list[dict] = field(default_factory=list)

    def append(self, entry: dict) -> None:
        self.entries.append(entry)
        if self.path:
            with open(self.path, "a", encoding="utf-8") as fh:
                fh.write(json.dumps(entry, default=str) + "\n")


def upload_artifact(
    spark: SparkSession,
    local_path: str,
    *,
    run_id: str,
    module: str,
    bucket_uri: str | None = None,
    prefix: str | None = None,
    session_id: str | None = None,
    ledger: ArtifactLedger | None = None,
) -> str:
    """S11: copy a local artifact to ``bucket/prefix/<session_id|run_id>/
    module/name`` (reference io_storage.py:280-329). Returns the destination
    URI, or "" when no bucket is configured, the source is missing or no
    ``FileSystem`` serves the bucket's scheme — the reference's soft-fail
    contract. A failed copy whose destination nonetheless exists counts as
    success (retry-stable names make the upload idempotent).

    Raises ``ValueError`` before writing anything when the path root (it can
    come from RPC arguments) would leave ``bucket/prefix``.
    """
    bucket_uri = (bucket_uri or os.environ.get("ANALYST_REPORT_BUCKET", "")).strip().rstrip("/")
    if not bucket_uri or not os.path.exists(local_path):
        return ""
    prefix = (prefix or os.environ.get("ANALYST_REPORT_PREFIX", "analyst_toolkit/reports")).strip("/")

    fname = os.path.basename(local_path)
    name = posixpath.normpath("/".join(p for p in (session_id or run_id, module, fname) if p))
    if name.split("/")[0] == "..":
        raise ValueError(f"artifact path escapes {bucket_uri}/{prefix}: {name!r}")
    dest_uri = "/".join(p for p in (bucket_uri, prefix, name) if p)
    content_type = _CONTENT_TYPES.get(os.path.splitext(fname)[1].lower(), "application/octet-stream")

    try:
        fs, dest = hadoop_fs(spark, dest_uri)
    except Exception:
        return ""  # no FileSystem for this scheme (connector absent) — soft fail
    status = "uploaded"
    try:
        src = spark._jvm.org.apache.hadoop.fs.Path(os.path.abspath(local_path))
        fs.copyFromLocalFile(False, True, src, dest)
    except Exception:
        if not fs.exists(dest):
            return ""
        status = "retry-stable"
    if ledger is not None:
        ledger.append(
            {
                "ts": time.time(),
                "run_id": run_id,
                "module": module,
                "artifact": fname,
                "uri": dest_uri,
                "bytes": os.path.getsize(local_path),
                "content_type": content_type,
                "status": status,
            }
        )
    return dest_uri
