"""Data dictionary — semantic typing + per-column stats + example values.

Reference semantics (m00_utils/data_dictionary_builder.py:50-90):
- semantic type heuristic F11: name ``*_id``/``id`` → identifier; bool →
  boolean; datetime → datetime; int → integer; float → numeric; all-null →
  unknown; bounded cardinality (``nunique <= min(20, max(5, n_nonnull // 2))``)
  → categorical; date/time in name → datetime_like_text; else text.
- example values F12: first ``limit`` DISTINCT non-null values in row order.

Spark design: the counts come from ``operators.profile.column_stats``, the
engine's one per-column count implementation (one bounded collect on the
driver tier; a count and a distinct aggregate on the Spark tier; NaN is
missing on both). Examples for ALL columns come from ONE batched job: unpivot
to (col, value, _row_id), group to (col, value, min_row_id), rank per col —
first-occurrence order is exactly ``min(_row_id)``, reproducing pandas
insertion order without a per-column job. Both scale: the grouped set is
bounded by distinct values, not rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from analyst_toolkit_spark.ingest import ROW_ID, with_row_id
from analyst_toolkit_spark.operators.profile import column_stats
from analyst_toolkit_spark.sources.io import local_frame

_INT_TYPES = {"tinyint", "smallint", "int", "bigint"}
_FLOAT_TYPES = {"float", "double"} | {f"decimal({p},{s})" for p in range(39) for s in range(39)}


def semantic_type(name: str, dtype: str, n_nonnull: int, n_unique: int) -> str:
    """F11 heuristic, driver-side (data_dictionary_builder.py:50-74)."""
    lowered = str(name or "").strip().lower()
    if lowered.endswith("_id") or lowered == "id":
        return "identifier"
    if dtype == "boolean":
        return "boolean"
    if dtype.startswith("timestamp") or dtype == "date":
        return "datetime"
    if dtype in _INT_TYPES:
        return "integer"
    if dtype in _FLOAT_TYPES or dtype.startswith("decimal"):
        return "numeric"
    if n_nonnull == 0:
        return "unknown"
    if n_unique <= min(20, max(5, n_nonnull // 2)):
        return "categorical"
    if "date" in lowered or "time" in lowered:
        return "datetime_like_text"
    if dtype == "string":
        return "text"
    return dtype


def example_values(df: DataFrame, columns: list[str], limit: int = 5) -> dict[str, list[str]]:
    """First ``limit`` distinct non-null values per column in ingest order
    (F12), ONE distributed job for all columns via min-row-id ranking."""
    if not columns:
        return {}
    df = with_row_id(df)
    pairs = df.select(
        F.col(ROW_ID),
        F.explode(
            F.array(*[F.struct(F.lit(c).alias("col"), F.col(c).cast("string").alias("value")) for c in columns])
        ).alias("p"),
    ).select(ROW_ID, "p.col", "p.value")
    firsts = (
        pairs.filter(F.col("value").isNotNull())
        .groupBy("col", "value")
        .agg(F.min(ROW_ID).alias("first_seen"))
    )
    w = Window.partitionBy("col").orderBy("first_seen")
    top = firsts.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= limit)
    out: dict[str, list[tuple[int, str]]] = {c: [] for c in columns}
    for r in top.collect():
        out[r["col"]].append((r["rn"], r["value"]))
    return {c: [v for _, v in sorted(pairs_)] for c, pairs_ in out.items()}


def data_dictionary(
    df: DataFrame, example_limit: int = 5, include_examples: bool = True
) -> DataFrame:
    """Dictionary table: column, dtype, semantic_type, count, null_count,
    null_pct, n_unique, examples. Small output (one row per column) built from
    two distributed passes; returned as a DataFrame for report sinks."""
    stats = column_stats(df)
    examples = (
        example_values(df, [s["column"] for s in stats], example_limit) if include_examples else {}
    )
    rows = []
    for s in stats:
        n_nonnull = s["count"] - s["nulls"]
        rows.append(
            {
                "column": s["column"],
                "dtype": s["dtype"],
                "semantic_type": semantic_type(s["column"], s["dtype"], n_nonnull, s["n_unique"]),
                "count": s["count"],
                "null_count": s["nulls"],
                "null_pct": round(s["nulls"] * 100.0 / s["count"], 2) if s["count"] else 0.0,
                "n_unique": s["n_unique"],
                "examples": ", ".join(examples.get(s["column"], [])) if include_examples else "Omitted",
            }
        )
    schema = (
        "column string, dtype string, semantic_type string, count long, "
        "null_count long, null_pct double, n_unique long, examples string"
    )
    return local_frame(df.sparkSession, rows, schema)
