"""The engine's lineage cuts: one helper (``sources.io.cut``) writes every
durable parquet cut, and the Spark jobs each cutting operator runs stay
pinned.

``cut`` with no ``durable_dir`` is ``localCheckpoint(eager=False)``, which is
not lazy: the call runs the subtree's shuffle stages. The job counts below
therefore split each operator's jobs into those run during the call and
those run by one ``collect`` of its result, so a change that moves work
across that line fails here even when the total holds.
"""

import pathlib

import pytest

from analyst_toolkit_spark.ingest import load_table
from analyst_toolkit_spark.llm import curate as C
from analyst_toolkit_spark.llm import dedup as D

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "analyst_toolkit_spark"

#: The lineage-cut helper; the session store writes its versions through it.
PARQUET_OVERWRITE_ALLOWED = {"analyst_toolkit_spark/sources/io.py"}


def test_no_hand_written_parquet_cuts():
    found = {
        path.relative_to(PACKAGE.parent).as_posix()
        for path in PACKAGE.rglob("*.py")
        if '.write.mode("overwrite").parquet(' in path.read_text()
    }
    assert found - PARQUET_OVERWRITE_ALLOWED == set()


def _jobs(spark, fn):
    """(jobs run during ``fn()``, jobs run collecting its DataFrame result)."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    tracker = sc.statusTracker()

    def counted(step):
        bus.waitUntilEmpty()
        before = set(tracker.getJobIdsForGroup("lineage-cut-jobs"))
        res = step()
        bus.waitUntilEmpty()
        return res, len(set(tracker.getJobIdsForGroup("lineage-cut-jobs")) - before)

    sc.setJobGroup("lineage-cut-jobs", "lineage-cut-jobs")
    try:
        res, during = counted(fn)
        out = res[0] if isinstance(res, tuple) else res  # curate_corpus returns (df, report)
        _, collecting = counted(out.collect)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return during, collecting


def _chain(spark):
    # a 41-node path: the hash-to-min fixpoint needs several rounds on it
    return spark.createDataFrame([(i, i + 1) for i in range(40)], ["id_a", "id_b"])


def _bucket_docs(spark):
    rows = [(i, "the same exact document body repeated everywhere") for i in range(10)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


_CURATE_CFG = dict(
    min_quality=0.2,
    exact_dedup=True,
    near_dedup_threshold=0.8,
    splits={"train": 0.8, "val": 0.2},
)

_CASES = {
    "cc": lambda spark, sf_dir, ck: D.connected_components(_chain(spark), checkpoint_dir=ck),
    "bucket": lambda spark, sf_dir, ck: D.bucket_components(_bucket_docs(spark), checkpoint_dir=ck),
    "curate": lambda spark, sf_dir, ck: C.curate_corpus(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        checkpoint_dir=ck,
        **_CURATE_CFG,
    ),
}
_CASES["cc_no_driver_tier"] = _CASES["cc"]  # run with CC_DRIVER_TIER_MAX_EDGES = 0

#: (jobs during the call, jobs collecting the result) per operator and cut.
#: A durable cut reads back with the writer's schema, so it runs no
#: schema-inference job: cc and cc_no_driver_tier make 9 durable cuts,
#: bucket 4 and curate 6. The driver tier's labels are a local relation,
#: so collecting them runs no job (cc and bucket, local).
_JOBS_PER_CALL = {
    ("cc", "local"): (7, 0),
    ("cc", "durable"): (48, 1),
    ("cc_no_driver_tier", "local"): (51, 1),
    ("cc_no_driver_tier", "durable"): (48, 1),
    ("bucket", "local"): (10, 0),
    ("bucket", "durable"): (15, 1),
    ("curate", "local"): (28, 2),
    ("curate", "durable"): (35, 2),
}


@pytest.mark.parametrize("case,mode", sorted(_JOBS_PER_CALL))
def test_jobs_per_cut_site(spark, sf_dir, tmp_path, monkeypatch, case, mode):
    if case == "cc_no_driver_tier":
        monkeypatch.setattr(D, "CC_DRIVER_TIER_MAX_EDGES", 0)
    ck = str(tmp_path / "ckpt") if mode == "durable" else None
    # cached per session: keep bucket_components' one-off sentinel job out
    D.sentinel_band_hash(spark, 64, 16, "xxhash")
    got = _jobs(spark, lambda: _CASES[case](spark, sf_dir, ck))
    assert got == _JOBS_PER_CALL[(case, mode)]
