"""SparkSession factory.

:func:`get_spark` sets only the confs whose value differs from Spark's own
default or depends on the host; everything else (AQE and its partition
coalescing and skew-join splitting, the advisory and file-split partition
sizes, parquet filter pushdown, the lz4 I/O codec, the streaming state-store
provider) runs on Spark's defaults, which ``tests/test_session_conf.py`` pins.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: ``spark.sql.codegen.cache.maxEntries`` — sized from the engine's measured
#: plan working set (see the comment at its use in :func:`get_spark`).
CODEGEN_CACHE_ENTRIES = 1024


def get_spark(app_name: str = "analyst_toolkit_spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) the session.

    Confs set, and why each differs from Spark's default:

    - ``spark.sql.shuffle.partitions``: the core count (at least 8), 32 when
      ``SPARK_GRAFT_CPUS`` is unset; Spark's 200 makes hundreds of tiny tasks
      per shuffle at local scale. On a cluster AQE coalesces from it.
    - ``spark.sql.session.timeZone=UTC``: Spark takes the host's zone, so
      timestamp parsing and rendering would vary by host.
    - ``spark.sql.execution.arrow.pyspark.enabled``: off by default;
      ``toPandas`` and ``createDataFrame`` of a pandas frame go over Arrow.
      (A ``pyarrow.Table`` always does; the engine's driver-held rows enter
      as one through ``sources.io.local_frame``. A plain list never does.)
    - ``spark.sql.legacy.parquet.nanosAsLong``: nanosecond parquet
      timestamps (e.g. pandas-written event streams) read as long, which
      ``ingest.load_table`` converts to µs timestamps; Spark fails on them.
    - ``spark.sql.codegen.cache.maxEntries``: :data:`CODEGEN_CACHE_ENTRIES`
      instead of 100 (see the comment at its use).
    - ``spark.driver.memory``: ``SPARK_GRAFT_DRIVER_MEM`` (default ``8g``)
      instead of 1g; the driver tiers collect bounded frames.
    - ``spark.ui.enabled=false``: no web UI thread or port for a library.
    - ``-Djava.net.preferIPv4Stack=true``: the JVM otherwise may bind IPv6
      on hosts without a working IPv6 loopback.

    ``SPARK_GRAFT_CPUS`` sets local parallelism (default ``*``, every core).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    n_shuffle = "32" if cpus == "*" else str(max(int(cpus), 8))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", n_shuffle)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
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
