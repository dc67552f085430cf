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
