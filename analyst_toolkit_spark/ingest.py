"""Ingest layer: table loading + row-identity discipline.

The reference's semantics lean on the pandas RangeIndex (keep-first dedup,
row-level diffs, example ordering — reference m00_utils/report_tables.py:92-94,
m04_duplicates/handle_dupes.py:25-28). Spark has no implicit row id, so we mint
``_row_id`` at ingest.

Scale note: ``monotonically_increasing_id`` is partition-local and encodes
(partition index << 33 | offset); for file sources whose splits enumerate in
file/byte order this is a faithful, *shuffle-free* encoding of ingest order —
the right 100 TB default. Operators that need a *cross-engine reproducible*
order (oracle checks) instead take an explicit deterministic key ordering.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ROW_ID = "_row_id"

#: Serializes the nanos-conf set/read/restore window in load_table so
#: concurrent loads (the MCP HTTP transport is threaded) can't observe a
#: half-restored conf.
_NANOS_CONF_LOCK = threading.Lock()
_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def with_row_id(df: DataFrame) -> DataFrame:
    """Mint the stable, order-preserving row id (no shuffle, no window)."""
    if ROW_ID in df.columns:
        return df
    return df.withColumn(ROW_ID, F.monotonically_increasing_id())


def _nanos_timestamp_cols(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark reads them as long
    (spark.sql.legacy.parquet.nanosAsLong); we convert to µs timestamps at
    ingest. Footer-only check, no data read."""
    try:
        import pyarrow.parquet as pq
        import pyarrow as pa

        schema = pq.read_schema(path)
        return [
            name
            for name, typ in zip(schema.names, schema.types)
            if pa.types.is_timestamp(typ) and typ.unit == "ns"
        ]
    except Exception:
        return []


def load_table(spark: SparkSession, sf_dir: str, name: str, row_id: bool = False) -> DataFrame:
    """Read one parquet table from a testdata scale-factor directory."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    nanos_cols = _nanos_timestamp_cols(path)
    if nanos_cols:
        # A bare SparkSession throws PARQUET_TYPE_ILLEGAL on TIMESTAMP(NANOS)
        # unless this (runtime-settable) conf is on. The conf is consulted only
        # while read.parquet() resolves the footer schema (the scan's hadoop
        # conf is snapshotted then — verified: later actions on the returned
        # DataFrame succeed after restore), so we set it for exactly that
        # window and put the caller's value back rather than leaking a
        # session-wide legacy-semantics change into later reads.
        with _NANOS_CONF_LOCK:
            prior = spark.conf.get(_NANOS_CONF, None)
            spark.conf.set(_NANOS_CONF, "true")
            try:
                df = spark.read.parquet(path)
            finally:
                if prior is None:
                    spark.conf.unset(_NANOS_CONF)
                else:
                    spark.conf.set(_NANOS_CONF, prior)
    else:
        df = spark.read.parquet(path)
    for c in nanos_cols:
        # ns → µs truncation matches what µs-native engines (DuckDB) do.
        # Integer `div`, NOT `/`: float division of epoch-nanos (≈1.7e18)
        # exceeds double precision and rounds the microsecond. TIMESTAMP_NTZ
        # arithmetic (not timestamp_micros) so the wall-clock value is
        # independent of the caller session's spark.sql.session.timeZone —
        # matching how naive-parquet readers (DuckDB, pandas) see the column.
        df = df.withColumn(
            c,
            F.expr(f"timestampadd(MICROSECOND, `{c}` div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"),
        )
    return with_row_id(df) if row_id else df
