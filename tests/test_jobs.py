"""Async job surface (analyst_toolkit_spark/jobs.py + Toolkit job tools),
mirroring the reference job lifecycle (mcp_server/job_state.py, tools/jobs.py,
tools/auto_heal.py async_mode) and the Spark-native cancel extension."""

import json
import threading
import time

import pytest

from analyst_toolkit_spark.ingest import load_table
from analyst_toolkit_spark.jobs import JobStore, spawn_job
from analyst_toolkit_spark.tools import Toolkit


@pytest.fixture()
def toolkit(spark):
    return Toolkit(spark)


def _wait_terminal(store_get, job_id, timeout=60.0):
    deadline = time.time() + timeout
    while time.time() < deadline:
        job = store_get(job_id)
        if job and job["state"] in ("succeeded", "failed", "cancelled"):
            return job
        time.sleep(0.1)
    raise AssertionError(f"job {job_id} not terminal within {timeout}s: {store_get(job_id)}")


def test_jobstore_lifecycle_and_shapes():
    store = JobStore()
    job_id = store.create("auto_heal", run_id="r1", inputs={"input_path": "x.parquet"})
    job = store.get(job_id)
    assert job["state"] == "queued" and job["module"] == "auto_heal"
    assert job["inputs"] == {"input_path": "x.parquet"}
    assert job["started_at"] is None and job["finished_at"] is None

    store.mark_running(job_id)
    assert store.get(job_id)["state"] == "running"
    store.mark_succeeded(job_id, {"health": 97})
    job = store.get(job_id)
    assert job["state"] == "succeeded" and job["result"] == {"health": 97}
    assert job["finished_at"] is not None

    # terminal states are sticky (cancel-then-complete must stay cancelled)
    store.mark_failed(job_id, {"error_type": "X", "message": "late"})
    assert store.get(job_id)["state"] == "succeeded"


def test_jobstore_list_filter_and_prune():
    store = JobStore(max_jobs=2, ttl_sec=3600)
    ids = [store.create("m") for _ in range(4)]
    for j in ids[:3]:
        store.mark_succeeded(j, {})
    # 3 terminal jobs against max_jobs=2 → oldest terminal pruned
    listed = store.list(limit=10)
    assert len(listed) == 3  # 2 terminal + 1 queued
    assert store.get(ids[0]) is None
    assert [j["state"] for j in store.list(limit=10, state="queued")] == ["queued"]


def test_jobstore_ttl_prune():
    store = JobStore(ttl_sec=0.05)
    job_id = store.create("m")
    store.mark_succeeded(job_id, {})
    time.sleep(0.1)
    assert store.get(job_id) is None  # expired
    # non-terminal jobs never expire
    live = store.create("m")
    time.sleep(0.1)
    assert store.get(live)["state"] == "queued"


def test_jobstore_persistence_roundtrip(tmp_path):
    path = str(tmp_path / "jobs" / "state.json")
    store = JobStore(state_path=path)
    job_id = store.create("auto_heal", inputs={"a": 1})
    store.mark_succeeded(job_id, {"ok": True})
    with open(path) as fh:
        on_disk = json.load(fh)
    assert on_disk[job_id]["state"] == "succeeded"
    # a fresh store over the same path resumes the ledger
    store2 = JobStore(state_path=path)
    assert store2.get(job_id)["result"] == {"ok": True}


def test_jobstore_restart_fails_interrupted_jobs(tmp_path):
    # no thread of a restarted process runs a job left queued or running:
    # the new store ends it once, on disk too, and then prunes it by TTL
    path = str(tmp_path / "state.json")
    store = JobStore(state_path=path, ttl_sec=3600)
    running, queued, done = store.create("auto_heal"), store.create("auto_heal"), store.create("auto_heal")
    store.mark_running(running)
    store.mark_succeeded(done, {"ok": True})

    store2 = JobStore(state_path=path, ttl_sec=3600)
    for job_id in (running, queued):
        job = store2.get(job_id)
        assert job["state"] == "failed" and job["error"]["error_type"] == "Interrupted"
        assert job["finished_at"] is not None
    assert store2.get(done)["result"] == {"ok": True}
    assert store2.list(state="running") == [] and store2.list(state="queued") == []
    with open(path) as fh:
        assert {j: v["state"] for j, v in json.load(fh).items()} == {
            running: "failed", queued: "failed", done: "succeeded"
        }
    later = JobStore(state_path=path, ttl_sec=0.05)
    time.sleep(0.1)
    assert later.get(running) is None  # terminal now, so the TTL applies


def test_spawn_job_success_and_failure(spark):
    store = JobStore()
    ok_id = store.create("m")
    spawn_job(store, ok_id, spark, lambda: {"status": "pass", "n": 1})
    job = _wait_terminal(store.get, ok_id, timeout=10)
    assert job["state"] == "succeeded" and job["result"]["n"] == 1

    bad_id = store.create("m")
    def _boom():
        raise RuntimeError("kaboom")
    spawn_job(store, bad_id, spark, _boom)
    job = _wait_terminal(store.get, bad_id, timeout=10)
    assert job["state"] == "failed"
    assert job["error"]["error_type"] == "RuntimeError" and "kaboom" in job["error"]["message"]

    # a completed result carrying a failure status marks failed (reference
    # tools/auto_heal.py:346-356 terminal-failure mapping)
    tf_id = store.create("m")
    spawn_job(store, tf_id, spark, lambda: {"status": "fail"}, terminal_failure=lambda r: r["status"] == "fail")
    job = _wait_terminal(store.get, tf_id, timeout=10)
    assert job["state"] == "failed" and job["error"]["error_type"] == "ToolResultError"


def test_auto_heal_async_submit_poll_result(toolkit, sf_dir):
    """The reference scenario: submit → accepted+job_id → poll → result."""
    res = toolkit.call("auto_heal", input_path=f"{sf_dir}/customer.parquet", async_mode=True)
    assert res["status"] == "accepted" and res["job_id"].startswith("job_")
    assert res["summary"] == {"state": "queued"}

    status = toolkit.call("get_job_status", job_id=res["job_id"])
    assert status["status"] == "pass" and status["job"]["state"] in ("queued", "running", "succeeded")

    job = _wait_terminal(lambda j: toolkit.call("get_job_status", job_id=j)["job"], res["job_id"], timeout=120)
    assert job["state"] == "succeeded", job.get("error")
    assert "health" in job["result"] and job["result"]["status"] == "pass"

    listed = toolkit.call("list_jobs", limit=5)
    assert listed["status"] == "pass" and any(j["job_id"] == res["job_id"] for j in listed["jobs"])

    # async result matches the synchronous tool's shape on the same input
    sync = toolkit.call("auto_heal", input_path=f"{sf_dir}/customer.parquet")
    assert set(job["result"]) == set(sync) and sync["status"] == "pass"


def test_concurrent_async_heals(toolkit, sf_dir):
    """Two async heals submitted back-to-back share the SparkSession and the
    ledger; both must complete independently with correct results (the
    ledger lock and per-thread job groups keep them isolated)."""
    r1 = toolkit.call("auto_heal", input_path=f"{sf_dir}/region.parquet", run_id="h1", async_mode=True)
    r2 = toolkit.call("auto_heal", input_path=f"{sf_dir}/nation.parquet", run_id="h2", async_mode=True)
    assert r1["job_id"] != r2["job_id"]
    jobs = [
        _wait_terminal(lambda j: toolkit.call("get_job_status", job_id=j)["job"], r["job_id"], timeout=180)
        for r in (r1, r2)
    ]
    assert all(j["state"] == "succeeded" for j in jobs), [j.get("error") for j in jobs]
    assert {j["run_id"] for j in jobs} == {"h1", "h2"}
    listed = toolkit.call("list_jobs", state="succeeded", limit=50)
    ids = {j["job_id"] for j in listed["jobs"]}
    assert {r1["job_id"], r2["job_id"]} <= ids


def test_auto_heal_async_resolve_errors_are_synchronous(toolkit):
    with pytest.raises(Exception):
        toolkit.call("auto_heal", input_path="/nonexistent/nope.parquet", async_mode=True)


def test_cancel_job(toolkit, spark):
    """cancel_job marks the job terminal and cancels its Spark job group; a
    worker completing afterwards must not overwrite the cancelled state."""
    release = threading.Event()

    def _slow():
        release.wait(20)
        return {"status": "pass"}

    job_id = toolkit.jobs.create("slow")
    spawn_job(toolkit.jobs, job_id, spark, _slow)
    time.sleep(0.2)  # let it reach running
    res = toolkit.call("cancel_job", job_id=job_id)
    assert res["status"] == "pass" and res["job"]["state"] == "cancelled"
    release.set()
    time.sleep(0.5)
    assert toolkit.jobs.get(job_id)["state"] == "cancelled"  # sticky

    # terminal / unknown ids are errors
    assert toolkit.call("cancel_job", job_id=job_id)["status"] == "error"
    assert toolkit.call("cancel_job", job_id="job_nope")["status"] == "error"
    assert toolkit.call("get_job_status", job_id="job_nope")["status"] == "error"
