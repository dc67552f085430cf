"""Object-storage plane tests (S4 scan, S11 artifact upload).

S4: every URI goes to Spark's reader through ``io.load_any``. S11: the
reference's retry-stable artifact upload (mcp_server/io_storage.py:280-329)
driven against a real ``file://`` bucket through Hadoop's FileSystem.
"""

import json
import os

import pytest
from pyspark.sql import Row
from pyspark.errors import AnalysisException

from analyst_toolkit_spark.sources import io as M_io
from analyst_toolkit_spark.sources import storage as S


@pytest.fixture()
def bucket(tmp_path):
    """A ``file://`` bucket URI and its local directory."""
    root = tmp_path / "bucket"
    return f"file://{root}", root


# -- S4: native scans ---------------------------------------------------------


def test_single_blob_read(spark, tmp_path):
    p = tmp_path / "one.parquet"
    spark.createDataFrame([Row(a=1), Row(a=2)]).write.parquet(str(p))
    assert M_io.load_any(spark, f"file://{p}").count() == 2


def test_single_blob_missing_raises(spark, tmp_path):
    with pytest.raises(AnalysisException):
        M_io.load_any(spark, f"file://{tmp_path}/nope.parquet")


def test_load_any_local_path_still_native(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.createDataFrame([Row(a=5)]).write.parquet(p)
    assert M_io.load_any(spark, p).count() == 1


# -- S11: artifact upload -----------------------------------------------------


def test_upload_artifact_happy_path(spark, tmp_path, bucket):
    uri_root, root = bucket
    art = tmp_path / "report.html"
    art.write_text("<html></html>")
    ledger = S.ArtifactLedger(path=str(tmp_path / "ledger.jsonl"))
    uri = S.upload_artifact(
        spark,
        str(art),
        run_id="r1",
        module="profile",
        bucket_uri=uri_root,
        prefix="toolkit/out",
        ledger=ledger,
    )
    assert uri == f"{uri_root}/toolkit/out/r1/profile/report.html"
    assert (root / "toolkit/out/r1/profile/report.html").read_text() == "<html></html>"
    entry = ledger.entries[0]
    assert entry["status"] == "uploaded" and entry["module"] == "profile"
    assert entry["content_type"] == "text/html" and entry["bytes"] == len("<html></html>")
    # JSONL mirror on disk
    with open(ledger.path) as fh:
        assert json.loads(fh.readline())["uri"] == uri


def test_upload_artifact_session_id_wins_path_root(spark, tmp_path, bucket):
    uri_root, root = bucket
    art = tmp_path / "a.csv"
    art.write_text("x\n1\n")
    uri = S.upload_artifact(
        spark, str(art), run_id="r1", module="m", bucket_uri=uri_root, prefix="p", session_id="sess9"
    )
    assert "/sess9/m/a.csv" in uri and "/r1/" not in uri
    assert (root / "p/sess9/m/a.csv").exists()


def test_upload_artifact_retry_stable(spark, tmp_path, bucket, monkeypatch):
    """A failed copy whose destination exists counts as success
    (io_storage.py:318-325 idempotent-retry contract)."""
    uri_root, root = bucket
    art = tmp_path / "a.json"
    art.write_text("{}")

    class LandsThenRaises:
        """The real filesystem, but the copy errors after it landed."""

        def __init__(self, fs):
            self.fs = fs

        def copyFromLocalFile(self, *args):
            self.fs.copyFromLocalFile(*args)
            raise OSError("connection reset after upload")

        def exists(self, path):
            return self.fs.exists(path)

    real = S.hadoop_fs

    def flaky(sp, path):
        fs, hp = real(sp, path)
        return LandsThenRaises(fs), hp

    monkeypatch.setattr(S, "hadoop_fs", flaky)
    ledger = S.ArtifactLedger()
    uri = S.upload_artifact(spark, str(art), run_id="r", module="m", bucket_uri=uri_root, prefix="p", ledger=ledger)
    assert uri == f"{uri_root}/p/r/m/a.json"
    assert ledger.entries[0]["status"] == "retry-stable"


def test_upload_artifact_soft_fails(spark, tmp_path, bucket, monkeypatch):
    uri_root, root = bucket
    art = tmp_path / "a.txt"
    art.write_text("x")
    monkeypatch.delenv("ANALYST_REPORT_BUCKET", raising=False)
    # no bucket configured
    assert S.upload_artifact(spark, str(art), run_id="r", module="m") == ""
    # missing source file
    assert S.upload_artifact(spark, str(tmp_path / "nope.txt"), run_id="r", module="m", bucket_uri=uri_root) == ""
    # scheme with no Hadoop FileSystem (connector absent)
    assert S.upload_artifact(spark, str(art), run_id="r", module="m", bucket_uri="zz://b") == ""
    assert not root.exists()


def test_upload_artifact_env_bucket(spark, tmp_path, bucket, monkeypatch):
    uri_root, root = bucket
    art = tmp_path / "a.txt"
    art.write_text("x")
    monkeypatch.setenv("ANALYST_REPORT_BUCKET", uri_root)
    monkeypatch.setenv("ANALYST_REPORT_PREFIX", "envpfx")
    uri = S.upload_artifact(spark, str(art), run_id="r7", module="m")
    assert uri == f"{uri_root}/envpfx/r7/m/a.txt"
    assert (root / "envpfx/r7/m/a.txt").read_text() == "x"


def test_upload_artifact_rejects_path_escape(spark, tmp_path, bucket):
    """``run_id`` arrives from RPC arguments: a root that leaves
    ``bucket/prefix`` raises before anything is written."""
    uri_root, root = bucket
    art = tmp_path / "a.txt"
    art.write_text("x")
    before = sorted(os.listdir(tmp_path))
    for run_id in ("../../x", "../x", "ok/../../x"):
        with pytest.raises(ValueError, match="escapes"):
            S.upload_artifact(spark, str(art), run_id=run_id, module="m", bucket_uri=uri_root, prefix="p")
    assert sorted(os.listdir(tmp_path)) == before
    assert not root.exists()
