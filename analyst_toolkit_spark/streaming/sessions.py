"""Sessionization + stateful stream operators.

Beyond the reference surface (batch-only, SURVEY §2.9): event-stream operators
a training-data/analytics pipeline needs. Three tiers:

- ``sessionize``: gap-based session windows via the built-in
  ``session_window`` — works identically over batch DataFrames (oracle-able)
  and watermarked streams; state management is Spark's, merge is native.
- ``dedup_stream``: watermarked exact dedup (state bounded by the watermark
  horizon — the streaming analogue of M04).
- ``stateful_running_stats``: the custom-stateful-operator seam
  (``applyInPandasWithState``) for semantics session_window can't express —
  here a per-key running count/sum/max carried across micro-batches.

Scale notes: session_window state is per (key, open window) and Spark evicts
closed windows past the watermark; dedup state is per key within the horizon.
Both bound memory at 100 TB/day stream rates as long as the watermark is
finite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from analyst_toolkit_spark.streaming.rules import ensure_event_time


def sessionize(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    value_col: str | None = "value",
    watermark: str | None = None,
) -> DataFrame:
    """Gap-based sessions per key: (key, session_start, session_end, n_events
    [, session_value]). ``session_end`` = last event + gap (Spark semantics).
    Pass ``watermark`` when ``df`` is a stream."""
    src = ensure_event_time(df, ts_col).withWatermark(ts_col, watermark) if watermark else df
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value_col:
        aggs.append(F.round(F.sum(value_col), 2).alias("session_value"))
    return (
        src.groupBy(F.col(key_col), F.session_window(F.col(ts_col), gap).alias("w"))
        .agg(*aggs)
        .select(
            key_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            *(["session_value"] if value_col else []),
        )
    )


def dedup_stream(stream_df: DataFrame, keys: list[str], ts_col: str = "ts", watermark: str = "1 hour") -> DataFrame:
    """Exact streaming dedup on ``keys`` with state bounded by the watermark
    (events later than the horizon are dropped rather than re-deduped)."""
    return ensure_event_time(stream_df, ts_col).withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def stateful_running_stats(
    stream_df: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
    ts_col: str = "ts",
    watermark: str = "1 day",
) -> DataFrame:
    """Custom stateful operator demo: per-key running (count, sum, max) carried
    across micro-batches via ``applyInPandasWithState`` — the seam for
    operators Spark's windowing can't express (iterative session scoring,
    sequential pattern state, online sketches).

    Output per key per batch: key, events_total, value_sum, value_max.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = f"{key_col} long, events_total long, value_sum double, value_max double"
    state_schema = "count long, vsum double, vmax double"

    def update(key, pdf_iter, state: GroupState):
        count, vsum, vmax = state.get if state.exists else (0, 0.0, float("-inf"))
        for pdf in pdf_iter:
            vals = pdf[value_col].dropna()
            count += len(pdf)
            vsum += float(vals.sum()) if len(vals) else 0.0
            vmax = max(vmax, float(vals.max())) if len(vals) else vmax
        state.update((count, vsum, vmax))
        yield pd.DataFrame(
            {
                key_col: [key[0]],
                "events_total": [count],
                "value_sum": [vsum],
                "value_max": [None if vmax == float("-inf") else vmax],
            }
        )

    return (
        ensure_event_time(stream_df, ts_col)
        .withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )
