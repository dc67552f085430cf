"""Sources/sinks + session store tests (S6-S10)."""

import os

import pytest
from pyspark.sql import Row

from analyst_toolkit_spark.sources import io as M_io
from analyst_toolkit_spark.state import SessionStore


@pytest.fixture()
def small(spark):
    return spark.createDataFrame([Row(a=1, b="x"), Row(a=2, b="y")])


def test_save_and_load_roundtrip(spark, small, tmp_path):
    for fmt in ("parquet", "csv", "json"):
        path = str(tmp_path / f"out_{fmt}")
        M_io.save_output(small, path, fmt=fmt)
        back = M_io.load_any(spark, path, fmt=fmt)
        assert back.count() == 2
        assert sorted(back.columns) == ["a", "b"]


@pytest.mark.parametrize("durable", [False, True], ids=["local", "durable"])
def test_cut_breaks_lineage(spark, small, tmp_path, durable):
    ck = M_io.cut(small, durable_dir=str(tmp_path) if durable else None, name="ck.parquet")
    assert sorted(map(tuple, ck.collect())) == [(1, "x"), (2, "y")]
    if durable:
        # a durable cut plans as a fresh scan, not the original lineage
        assert "Scan parquet" in ck._jdf.queryExecution().executedPlan().toString()


def test_export_report_csv_and_html(small, tmp_path):
    reports = {
        "profile": small,
        "summary": {"rows": 2, "status": "ok"},
        "log": [{"action": "drop", "n": 1}],
    }
    written = M_io.export_report(reports, str(tmp_path / "rep"))
    names = {os.path.basename(p) for p in written}
    assert names == {"profile.csv", "summary.csv", "log.csv"}

    html_path = M_io.export_html_report(reports, str(tmp_path / "rep.html"), title="QA <Run>")
    text = open(html_path).read()
    assert "QA &lt;Run&gt;" in text and "profile" in text and "<table" in text


def test_session_store_basic(spark, small):
    store = SessionStore(spark, max_entries=2, ttl_sec=3600)
    store.save("s1", small, metadata={"source": "test"})
    assert store.get("s1").count() == 2
    # temp view registered for the SQL surface
    assert spark.sql("SELECT count(*) AS n FROM session_s1").first()["n"] == 2
    store.save_config("s1", "validation", "validation: {}")
    assert store.get_config("s1", "validation") == "validation: {}"


def test_session_store_lru_eviction(spark, small):
    store = SessionStore(spark, max_entries=2, ttl_sec=3600)
    store.save("a", small)
    store.save("b", small)
    store.get("a")  # refresh a -> b is LRU
    store.save("c", small)
    assert {s["session_id"] for s in store.list_sessions()} == {"a", "c"}
    with pytest.raises(KeyError):
        store.get("b")


def test_session_store_ttl(spark, small):
    store = SessionStore(spark, ttl_sec=0.0001)
    store.save("old", small)
    import time

    time.sleep(0.01)
    with pytest.raises(KeyError):
        store.get("old")


def test_session_store_persistence(spark, small, tmp_path):
    store = SessionStore(spark, persist_dir=str(tmp_path))
    store.save("dur", small)
    # a fresh store (new session lifecycle) restores from parquet
    store2 = SessionStore(spark, persist_dir=str(tmp_path))
    assert store2.get("dur").count() == 2


def test_session_store_versioned_swap_keeps_prior_version(spark, small, tmp_path):
    # second save must not delete the version a restored reader may be
    # mid-scan of; a third save GCs the oldest
    store = SessionStore(spark, persist_dir=str(tmp_path))
    store.save("v", small)
    held = store.get("v")  # lazily reads version 1
    store.save("v", small.limit(1))
    versions = [p for p in tmp_path.iterdir() if p.name.startswith("v.v-")]
    assert len(versions) == 2  # current + prior both on disk
    assert held.count() == 2  # the pre-save handle still scans cleanly
    assert store.get("v").count() == 1
    store.save("v", small)
    versions = [p for p in tmp_path.iterdir() if p.name.startswith("v.v-")]
    assert len(versions) == 2  # oldest GC'd


def test_session_store_concurrent_saves(spark, small, tmp_path):
    import threading

    store = SessionStore(spark, persist_dir=str(tmp_path))
    errors = []

    def worker(n):
        try:
            for _ in range(3):
                store.save("race", small.limit(1 + n % 2))
        except Exception as exc:  # pragma: no cover - failure path
            errors.append(exc)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(4)]
    [t.start() for t in threads]
    [t.join() for t in threads]
    assert not errors
    assert store.get("race").count() in (1, 2)
    # a fresh store restores the pointer's version
    assert SessionStore(spark, persist_dir=str(tmp_path)).get("race").count() in (1, 2)


def test_session_store_legacy_layout_restores(spark, small, tmp_path):
    # pre-versioning layout: bare <id>.parquet with no pointer file
    small.write.parquet(str(tmp_path / "old.parquet"))
    store = SessionStore(spark, persist_dir=str(tmp_path))
    assert store.get("old").count() == 2


def _session_files(tmp_path, sid):
    return sorted(p.name for p in tmp_path.iterdir() if p.name.startswith(f"{sid}."))


def test_session_store_metadata_and_configs_survive_eviction(spark, small, tmp_path):
    store = SessionStore(spark, max_entries=1, persist_dir=str(tmp_path))
    store.save("a", small, metadata={"source": "a.csv"})
    store.save_config("a", "validation", "validation: {}")
    store.save("b", small)  # evicts a: only its in-memory entry goes
    assert {s["session_id"] for s in store.list_sessions()} == {"b"}
    assert store.get_config("a", "validation") == "validation: {}"
    assert store.get("a").count() == 2
    assert store.list_sessions()[0]["metadata"] == {"source": "a.csv"}
    store.save("a", small.limit(1))  # metadata=None keeps the session's metadata
    fresh = SessionStore(spark, persist_dir=str(tmp_path))
    assert fresh.get_config("a", "validation") == "validation: {}"
    assert fresh.get("a").count() == 1
    assert fresh.list_sessions()[0]["metadata"] == {"source": "a.csv"}


def test_session_store_restored_schema_matches_parquet(spark, tmp_path):
    import datetime
    import decimal
    import json

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from analyst_toolkit_spark.ingest import ROW_ID, with_row_id

    schema = T.StructType([
        T.StructField("ts", T.TimestampType()),
        T.StructField("amount", T.DecimalType(12, 3)),
        T.StructField("tags", T.ArrayType(T.IntegerType(), containsNull=False)),
        T.StructField("pt", T.StructType([T.StructField("x", T.LongType(), False), T.StructField("y", T.StringType())])),
    ])
    rows = [(datetime.datetime(2020, 1, 2, 3, 4, 5), decimal.Decimal("1.500"), [1, 2], (7, "q"))]
    df = with_row_id(spark.createDataFrame(rows, schema))
    assert not df.schema[ROW_ID].nullable
    SessionStore(spark, persist_dir=str(tmp_path)).save("typed", df)
    restored = SessionStore(spark, persist_dir=str(tmp_path)).get("typed")
    version = json.loads((tmp_path / "typed.current").read_text())["version"]
    assert restored.schema == spark.read.parquet(str(tmp_path / version)).schema
    assert restored.drop(ROW_ID).collect() == df.drop(ROW_ID).collect()
    assert restored.select(F.col("pt.x")).first()[0] == 7


@pytest.mark.parametrize("how", ["delete", "ttl_in_memory", "ttl_after_eviction"])
def test_session_store_delete_and_expiry_are_final(spark, small, tmp_path, how):
    import time

    store = SessionStore(spark, max_entries=1, ttl_sec=3600, persist_dir=str(tmp_path))
    store.save("gone", small)
    store.save("gone", small.limit(1))  # two versions on disk
    if how == "ttl_after_eviction":
        store.save("other", small)  # evicts "gone" to disk
    assert "gone.current" in _session_files(tmp_path, "gone")
    if how == "delete":
        store.delete("gone")
    else:
        store.ttl_sec = 0.01
        time.sleep(0.05)
        with pytest.raises(KeyError, match="expired"):
            store.get("gone")
    assert _session_files(tmp_path, "gone") == []
    with pytest.raises(KeyError):
        store.get("gone")
    with pytest.raises(KeyError):
        SessionStore(spark, persist_dir=str(tmp_path)).get("gone")


@pytest.mark.parametrize("pointer,jobs", [("manifest", 0), ("plain_text", 1)])
def test_session_store_durable_restore_jobs(spark, small, tmp_path, pointer, jobs):
    import json

    from tests.test_lineage_cut import _jobs

    SessionStore(spark, persist_dir=str(tmp_path)).save("j", small)
    if pointer == "plain_text":  # the pointer layout before manifests
        ptr = tmp_path / "j.current"
        ptr.write_text(json.loads(ptr.read_text())["version"])
    store = SessionStore(spark, persist_dir=str(tmp_path))
    # the restore alone; collecting the frame then runs the scan
    assert _jobs(spark, lambda: store.get("j")) == (jobs, 1)
    assert sorted(map(tuple, store.get("j").collect())) == [(1, "x"), (2, "y")]


def test_session_store_reads_extend_ttl_in_a_new_store(spark, small, tmp_path):
    import time

    store = SessionStore(spark, max_entries=1, ttl_sec=2.0, persist_dir=str(tmp_path))
    store.save("read", small, metadata={"source": "r"})
    for _ in range(2):  # last saved 2.4 s ago, last read just now
        time.sleep(1.2)
        store.get("read")
    fresh = SessionStore(spark, ttl_sec=2.0, persist_dir=str(tmp_path))
    assert fresh.get("read").count() == 2
    assert fresh.list_sessions()[0]["metadata"] == {"source": "r"}


@pytest.mark.parametrize("evicted", [False, True])
def test_session_store_save_after_expiry_starts_fresh(spark, small, tmp_path, evicted):
    import json
    import time

    store = SessionStore(spark, max_entries=1, ttl_sec=1.5, persist_dir=str(tmp_path))
    store.save("exp", small, metadata={"source": "old"})
    store.save_config("exp", "validation", "validation: {}")
    if evicted:
        store.save("other", small)
    time.sleep(1.7)
    store.save("exp", small.limit(1))  # onto the expired session
    assert store.get("exp").count() == 1  # the new save itself has not expired
    assert store.get_config("exp", "validation") is None
    assert {s["session_id"]: s["metadata"] for s in store.list_sessions()} == {"exp": {}}
    version = json.loads((tmp_path / "exp.current").read_text())["version"]
    assert _session_files(tmp_path, "exp") == sorted(["exp.current", version])


def test_session_store_caches_durable_and_in_memory_frames(spark, small, tmp_path):
    durable = SessionStore(spark, max_entries=1, persist_dir=str(tmp_path))
    durable.save("d", small)
    assert durable.get("d").storageLevel.useMemory
    durable.save("e", small)  # evicts d, whose restore is cached again
    assert durable.get("d").storageLevel.useMemory
    memory = SessionStore(spark)
    memory.save("m", small)
    assert memory.get("m").storageLevel.useMemory


def test_load_table_restores_nanos_conf(spark):
    from analyst_toolkit_spark.ingest import load_table

    key = "spark.sql.legacy.parquet.nanosAsLong"
    prior = spark.conf.get(key, None)
    try:
        spark.conf.unset(key)
        df = load_table(spark, "/root/testdata/sf0.001", "events")
        # conf leak fixed: the legacy flag is restored after the footer read
        assert spark.conf.get(key, None) is None
        # and the returned frame still scans + converts ns → µs timestamps
        assert df.select("ts").schema[0].dataType.typeName().startswith("timestamp")
        assert df.count() > 0
    finally:
        if prior is not None:
            spark.conf.set(key, prior)


def test_invalid_session_id(spark, small):
    store = SessionStore(spark)
    with pytest.raises(ValueError):
        store.save("../evil", small)


def test_partitioned_write_prunes(spark, tmp_path):
    from pyspark.sql import functions as F

    from analyst_toolkit_spark.ingest import load_table

    df = load_table(spark, "/root/testdata/sf0.001", "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_by_year")
    M_io.save_output(df, path, partition_by=["o_year"])

    back = spark.read.parquet(path).filter(F.col("o_year") == 1995)
    plan = back._jdf.queryExecution().executedPlan().toString()
    # the year predicate resolves against directory partitions, not data
    assert "PartitionFilters: [isnotnull(o_year" in plan
    assert back.count() == df.filter("o_year = 1995").count()


def test_load_any_jsonl_and_gz(spark, tmp_path):
    """.jsonl/.ndjson (the standard LLM-corpus layout) and .gz-compressed
    variants dispatch to the json/csv readers, not the parquet fallback."""
    import gzip
    import json as _json

    from analyst_toolkit_spark.sources.io import load_any

    docs = [{"doc_id": i, "text": f"doc {i}"} for i in range(20)]
    jl = tmp_path / "corpus.jsonl"
    jl.write_text("\n".join(_json.dumps(d) for d in docs))
    out = load_any(spark, str(jl))
    assert out.count() == 20 and set(out.columns) == {"doc_id", "text"}

    gz = tmp_path / "corpus2.jsonl.gz"
    with gzip.open(gz, "wt") as fh:
        fh.write("\n".join(_json.dumps(d) for d in docs))
    out2 = load_any(spark, str(gz))
    assert out2.count() == 20 and set(out2.columns) == {"doc_id", "text"}

    csv_gz = tmp_path / "t.csv.gz"
    with gzip.open(csv_gz, "wt") as fh:
        fh.write("a,b\n1,x\n2,y\n")
    out3 = load_any(spark, str(csv_gz))
    assert out3.count() == 2 and set(out3.columns) == {"a", "b"}
