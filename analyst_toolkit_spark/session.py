"""SparkSession factory with scale-aware defaults.

Local test posture: one JVM, ``local[N]`` threads. Cluster posture: the same
configs are the ones that matter at 1000 executors — AQE for runtime shuffle
re-planning and skew-join splitting, Arrow for every Python<->JVM hop,
partition-size caps so a 100 TB scan yields sane tasks.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: ``spark.sql.codegen.cache.maxEntries`` — sized from the engine's measured
#: plan working set (see the comment at its use in :func:`get_spark`).
CODEGEN_CACHE_ENTRIES = 1024


def get_spark(app_name: str = "analyst_toolkit_spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) the session.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default ``*``). The
    shuffle-partition default tracks core count locally; on a real cluster AQE
    coalesces from the configured initial number, so oversizing is harmless.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    n_shuffle = "32" if cpus == "*" else str(max(int(cpus), 8))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", n_shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE post-shuffle sizing seam (r16, r15 VERDICT #7): with
        # parallelismFirst=true (Spark's default, kept here) AQE refuses to
        # coalesce below the core count even when the data is tiny — the
        # measured cause of the sub-1.0 8-vs-32-core ratios on the smallest
        # bench rows. false sizes post-shuffle partitions purely by data
        # (advisoryPartitionSizeInBytes), the scale-adaptive posture Spark's
        # own docs recommend for production. Both are env-flippable; see
        # OPTIMIZATION_r16.md for the measured trade at sf0.1.
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            os.environ.get("SPARK_GRAFT_AQE_PARALLELISM_FIRST", "true"),
        )
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_AQE_ADVISORY_BYTES", "64m"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # nanosecond parquet timestamps (e.g. pandas-written event streams)
        # read as long; ingest.load_table converts them to µs timestamps
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # Shuffle/spill/broadcast codec (guide §2.3): lz4 default keeps the
        # bench comparable across rounds; at cluster scale zstd usually
        # trades a little CPU for markedly fewer shuffle bytes — flip via
        # env and MEASURE (sf0.1 shuffles are KBs, so only a quiet-host A/B
        # at real scale can justify changing the default).
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"),
        )
        # Streaming state-store provider seam (r16, r15 VERDICT #4): measured
        # A/B at sf0.1 (3 interleaved runs per row, examples/prof_r16_rocksdb)
        # put RocksDB inside the HDFSBacked provider's spread on all three
        # stream-join rows — state there is KBs, so provider overhead is the
        # whole cost either way. At production state sizes RocksDB is the
        # documented choice (bounded JVM heap, changelog checkpointing):
        # flip via env and measure micro-batch latency there. Default stays
        # Spark's own default so stream bench rows remain comparable.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            os.environ.get(
                "SPARK_GRAFT_STATE_STORE_PROVIDER",
                "org.apache.spark.sql.execution.streaming.state."
                "HDFSBackedStateStoreProvider",
            ),
        )
        # Generated-code reuse. Spark keeps Janino-compiled classes in one
        # JVM-wide LRU keyed by the generated source; the engine re-plans the
        # same shapes on every tool call and curate pass, so a cache smaller
        # than that working set recompiles them every time. Measured distinct
        # classes: agent_session cycle 155, curate_corpus pass 168,
        # pipeline_batch run 87 — at Spark's default of 100 entries a
        # 24-call agent cycle compiled ~110 classes and a curate pass ~160;
        # at this size, only the classes of not-yet-seen tables. A class
        # averages ~2.7 KB of bytecode (CodegenMetrics) and ~35 KB of
        # metaspace once loaded (803 classes grew metaspace by 28 MB), so a
        # full cache pins about 35 MB: bounded for a long-lived server.
        # Static conf: it takes effect only for the session that starts
        # the JVM.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_stats(spark: SparkSession) -> dict:
    """Janino compiles since the JVM started (Spark's ``CodegenMetrics``,
    JVM-wide), beside the cache size that produced them. Each call is a few
    py4j round trips: read it when metrics are scraped, not per request."""
    compile_ms = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    return {
        "compiles_total": compile_ms.getCount(),
        "compile_ms_mean": round(compile_ms.getSnapshot().getMean(), 2),
        "cache_max_entries": int(spark.conf.get("spark.sql.codegen.cache.maxEntries")),
    }
