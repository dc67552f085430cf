"""Pandas-parity statistics as Spark Column expressions.

The reference reports pandas statistics (reference m01_diagnostics/data_diag.py:46-113):
``skew()``/``kurt()`` are *bias-corrected* (adjusted Fisher–Pearson), ``std`` is
ddof=1, ``quantile`` interpolates linearly, ``mode`` breaks ties by smallest
value. Spark's ``F.skewness``/``F.kurtosis`` are the *population* estimators, so
a naive translation silently reports different numbers. DuckDB's built-ins match
pandas, which is what the oracle checks.

All of these are plain Column expressions → they fuse into a single whole-stage
codegen'd aggregation pass; nothing here adds a scan or a shuffle.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Above this optimizer-estimated input size, ``quantile_strategy`` switches
#: exact quantiles from the builtin ``percentile`` aggregate (value→count map,
#: single-threaded final merge, memory O(distinct)) to the bounded-memory
#: sample-bracket-then-refine path. Both are EXACT; only the execution shape
#: differs, so the switch never changes results — it changes what survives a
#: 100× scale-up.
QUANTILE_REFINE_THRESHOLD_BYTES = 4 << 30

#: Below this optimizer-estimated input size, exact quantiles collect the
#: needed columns once over Arrow and use numpy (measured 4-6x faster than the
#: builtin percentile aggregate at sub-100 MB scale: the aggregate's per-value
#: hash-map update dominates tiny inputs). Identical linear interpolation.
#: Never engages when the size is unknown or large.
QUANTILE_DRIVER_THRESHOLD_BYTES = 128 << 20

#: Row cap backstopping the driver tier against optimizer mis-estimates: a
#: column-free count() guard runs BEFORE any collect, so driver memory stays
#: bounded even if plan bytes lied (zero rows collected on overflow);
#: overflow falls through to the refined tier (same exact results).
QUANTILE_DRIVER_MAX_ROWS = 4_000_000

# Catalyst reports defaultSizeInBytes (~Long.MaxValue) when it has no stats —
# an in-memory test relation, not a 8-EiB table. Treat those as "unknown".
_SIZE_UNKNOWN_FLOOR = 1 << 60


def plan_size_bytes(df: DataFrame) -> int:
    """Optimizer size estimate for the frame's input (parquet footers /
    catalog stats propagated through the plan — no scan, no action).
    Returns -1 when Spark has no estimate."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return -1
    return -1 if size >= _SIZE_UNKNOWN_FLOOR else size


def maybe_broadcast(df: DataFrame, gate_bytes: int = 64 << 20) -> DataFrame:
    """Size-gated broadcast hint — the library twin of the entry file's
    ``_bc()``. A hard ``F.broadcast()`` is honored regardless of
    autoBroadcastJoinThreshold and AQE will NOT demote it, so hinting a frame
    whose size scales with the corpus OOMs executors at 100×. Hint only when
    the optimizer estimate is KNOWN and under the gate; unknown (-1) is NOT
    small — otherwise return the frame unhinted and let AQE's runtime
    statistics pick broadcast vs shuffle."""
    size = plan_size_bytes(df)
    return F.broadcast(df) if 0 <= size <= gate_bytes else df


def plan_row_estimate(df: DataFrame) -> int:
    """Optimizer ROW-count estimate (defined for local relations and
    CBO-analyzed tables; -1 when Spark has no estimate — the common case for
    plain parquet scans without ANALYZE). Free: no scan, no action."""
    try:
        opt = df._jdf.queryExecution().optimizedPlan().stats().rowCount()
        if opt.isDefined():
            return int(str(opt.get()))
    except Exception:
        pass
    return -1


def quantile_strategy(df: DataFrame, exact: bool = True) -> str:
    """Pick the quantile execution shape for this frame's size:

    - ``"approx"``  — caller asked for ``exact=False``: t-digest sketch,
      mergeable map-side, no sort. The non-oracle 100 TB fast path.
    - ``"driver"``  — tiny known inputs: one Arrow collect of the needed
      columns + exact numpy interpolation (what pandas/DuckDB do; 4-6×
      faster than the percentile aggregate at this scale).
    - ``"builtin"`` — exact ``percentile`` aggregate. Right in the middle:
      one fused agg pass, but its final merge is single-threaded and memory
      is O(distinct values).
    - ``"refined"`` — ``exact_quantiles_refined``: four bounded passes (a
      count, a sample agg, a rank agg and a bracket collect) whose memory is
      O(bracket), independent of table size. Same exact results; the shape
      that survives 100 TB.

    All three exact tiers return identical linearly-interpolated values —
    the choice is purely an execution-shape choice. Unknown plan size
    (in-memory relations without stats) stays on ``"builtin"`` — at cluster
    scale real lake tables always carry footer or catalog stats, so unknown
    means a small local relation here.
    """
    if not exact:
        return "approx"
    size = plan_size_bytes(df)
    if 0 <= QUANTILE_REFINE_THRESHOLD_BYTES <= size:
        return "refined"
    if 0 <= size <= QUANTILE_DRIVER_THRESHOLD_BYTES:
        return "driver"
    return "builtin"


def collect_driver_bounded(df: DataFrame, cols: list[str]):
    """The driver tier's bounded collect: None unless ``quantile_strategy``
    picks the driver tier for this frame (the one size gate every driver-side
    shortcut shares). Then a column-free ``count()`` guard (nothing is
    collected at all when the optimizer mis-estimated and the frame exceeds
    ``QUANTILE_DRIVER_MAX_ROWS``), then a plain parallel ``toPandas``.
    Returns the pandas frame or None.

    Why not ``limit(cap+1).toPandas()`` (the previous guard): a global limit
    plans as CollectLimitExec — a serial, single-task collection — measured
    ~3x slower than the parallel Arrow collect on a 600k-row projection
    (0.73 s vs 0.26 s at sf0.1). The count guard is also strictly safer:
    the limit probe materialized cap+1 rows before deciding; this collects
    zero rows when over budget. The count scan is column-free (Catalyst
    prunes every column), so it reads parquet metadata + row existence only.
    """
    if quantile_strategy(df) != "driver" or df.count() > QUANTILE_DRIVER_MAX_ROWS:
        return None
    return df.select(*cols).toPandas()


def _nan_as_null(df: DataFrame, col: str) -> Column:
    """``col`` with NaN read as missing in float/double columns — what pandas
    (and so the driver tier) does. Spark's aggregates otherwise count NaN as a
    value that sorts above +inf."""
    c = F.col(col)
    if isinstance(df.schema[col].dataType, (T.FloatType, T.DoubleType)):
        return F.when(~F.isnan(c), c)
    return c


def quantile_stats(
    df: DataFrame, cols_ps: dict[str, list[float]], exact: bool = True, minmax: bool = False
) -> dict[str, Any]:
    """Quantiles (and with ``minmax`` the min and max) of each column, on the
    tier ``quantile_strategy`` picks. The only place that branches on a tier.

    Returns ``{"q::<col>": [q, ...]}`` plus ``"min::<col>"``/``"max::<col>"``.
    A value is either already computed (driver and refined tiers; ``None``
    entries for an all-null column) or an aggregate Column (builtin and
    approx tiers, and min/max on the refined tier). The caller runs those
    Columns inside its own single ``df.agg`` (see :func:`collect_stats`), so
    no tier adds a scan or a job to the caller's pass. NaN in float/double
    columns counts as missing on every tier.

    When the driver tier's row cap trips (an optimizer mis-estimate), the
    answer comes from the refined tier: such an input sits exactly where the
    builtin's single-threaded value→count merge is slowest (measured 7-11 s
    builtin vs 3-4.6 s refined on a 6M-row column).
    """
    if not cols_ps:
        return {}
    tier = quantile_strategy(df, exact)
    if tier == "driver":
        pdf = collect_driver_bounded(df, list(cols_ps))
        if pdf is not None:
            return _driver_stats(pdf, cols_ps, minmax)
        tier = "refined"
    out: dict[str, Any] = {}
    if tier == "refined":
        out = {f"q::{c}": q for c, q in exact_quantiles_refined(df, cols_ps).items()}
    for c, ps in cols_ps.items():
        v = _nan_as_null(df, c)
        if tier == "builtin":
            out[f"q::{c}"] = percentile_exact(v, ps)
        elif tier == "approx":
            out[f"q::{c}"] = F.percentile_approx(v, F.array(*[F.lit(p) for p in ps]), 10000)
        if minmax:
            out[f"min::{c}"] = F.min(v)
            out[f"max::{c}"] = F.max(v)
    return out


def _driver_stats(pdf, cols_ps: dict[str, list[float]], minmax: bool) -> dict[str, Any]:
    """quantile_stats on the collected frame: ``np.quantile`` (linear
    interpolation — same formula as the builtin aggregate and pandas)."""
    import numpy as np

    out: dict[str, Any] = {}
    for c, ps in cols_ps.items():
        vals = pdf[c].dropna().to_numpy(dtype=float)
        empty = vals.size == 0
        out[f"q::{c}"] = [None] * len(ps) if empty else [float(x) for x in np.quantile(vals, ps)]
        if minmax:
            out[f"min::{c}"] = None if empty else float(vals.min())
            out[f"max::{c}"] = None if empty else float(vals.max())
    return out


def collect_stats(df: DataFrame, stats: dict[str, Any], *aggs: Column) -> dict[str, Any]:
    """Run the aggregate Columns of a :func:`quantile_stats` result and the
    caller's own aliased ``aggs`` in ONE ``df.agg`` (no job when there is
    nothing to aggregate). Returns every statistic by name."""
    pending = [v.alias(k) for k, v in stats.items() if isinstance(v, Column)] + list(aggs)
    row = df.agg(*pending).first().asDict() if pending else {}
    return {**stats, **row}


def skewness_g1(col: str | Column) -> Column:
    """Bias-corrected sample skewness (pandas ``Series.skew``, DuckDB ``skewness``).

    G1 = g1 * sqrt(n(n-1)) / (n-2) where g1 is Spark's population skewness.
    Null for n < 3 (pandas returns NaN).
    """
    c = F.col(col) if isinstance(col, str) else col
    n = F.count(c).cast("double")
    g1 = F.skewness(c)
    return F.when(n >= 3, g1 * F.sqrt(n * (n - 1)) / (n - 2)).otherwise(F.lit(None))


def kurtosis_g2(col: str | Column) -> Column:
    """Bias-corrected sample excess kurtosis (pandas ``Series.kurt``, DuckDB ``kurtosis``).

    G2 = ((n+1)*g2 + 6) * (n-1) / ((n-2)(n-3)) where g2 is Spark's population
    excess kurtosis. Null for n < 4.
    """
    c = F.col(col) if isinstance(col, str) else col
    n = F.count(c).cast("double")
    g2 = F.kurtosis(c)
    return F.when(n >= 4, ((n + 1) * g2 + 6) * (n - 1) / ((n - 2) * (n - 3))).otherwise(F.lit(None))


def percentile_exact(col: str | Column, p: float | list[float]) -> Column:
    """Exact percentile with linear interpolation (pandas ``quantile``,
    DuckDB ``quantile_cont``, SQL ``percentile``). NOT ``approxQuantile``:
    the IQR bounds feed outlier predicates, so precision is semantic.

    At 100 TB this is a sort-based exact aggregate; switch to
    ``F.approx_percentile`` via the profiler's ``exact=False`` mode when a
    relative-error answer is acceptable.
    """
    c = F.col(col) if isinstance(col, str) else col
    if isinstance(p, (int, float)):
        return F.percentile(c, F.lit(float(p)))
    return F.percentile(c, F.array(*[F.lit(float(x)) for x in p]))


def exact_quantiles_refined(
    df: DataFrame,
    cols_ps: dict[str, list[float]],
    max_bracket: int = 4_000_000,
) -> dict[str, list[float]]:
    """EXACT linearly-interpolated quantiles via sample-bracket-then-refine.

    Spark's exact ``percentile`` aggregate builds a value→count map whose final
    merge is single-threaded and whose memory is O(distinct values) — both
    break down at 100 TB. This function instead:

      1. counts non-nulls per column (one agg),
      2. brackets each requested p with exact quantiles of a fixed-size SAMPLE
         (±delta in quantile space; cheaper than a full-accuracy KLL sketch),
      3. computes the EXACT rank below each bracket plus the distinct values
         inside it with counts (tie-compressed, predicate-pushdown scans),
      4. interpolates driver-side. The exact ranks PROVE the bracket covered
         the needed order statistics; any column that missed is retried with
         a 4× wider bracket, so correctness never rests on the sample.

    All passes are map-side-combinable aggs batched over all columns. Returns
    {col: [q for each p]} (None where the column is all-null). NaN counts as
    missing, as in pandas: the counts and the sample skip it, and it sorts
    above every bracket.
    """
    todo = {c: list(ps) for c, ps in cols_ps.items() if ps}
    results: dict[str, list[float]] = {c: [None] * len(ps) for c, ps in cols_ps.items()}

    # pass 0: non-null counts (needed for rank targets regardless of method)
    count_row = df.agg(*[F.count(_nan_as_null(df, c)).alias(c) for c in todo]).first()
    counts = {c: int(count_row[c] or 0) for c in todo}
    for c in [c for c, n in counts.items() if n == 0]:
        todo.pop(c)  # all-null column: result stays None

    sample_target = 100_000
    # quantile-space margin ≈ 3σ of the sample-quantile estimator at the
    # target sample size; the exact-rank check below retries on a miss, so
    # this is a latency knob, not a correctness one
    delta = 3.0 * (0.25 / sample_target) ** 0.5  # ≈ 0.0047
    for _attempt in range(6):
        if not todo:
            break
        # pass 1: bracket values from a SAMPLE's exact quantiles. A fixed-size
        # sample is far cheaper than a full-accuracy KLL sketch (measured ~3×
        # on 600k rows), and correctness never depends on the bracket being
        # right — only the retry count does.
        n_max = max(counts[c] for c in todo)
        frac = min(1.0, sample_target / max(n_max, 1))
        sdf = df if frac >= 1.0 else df.sample(False, frac, seed=42)
        aggs = []
        for c, ps in todo.items():
            qs = [max(0.0, p - delta) for p in ps] + [min(1.0, p + delta) for p in ps]
            aggs.append(percentile_exact(_nan_as_null(sdf, c), qs).alias(f"b::{c}"))
        row1 = sdf.agg(*aggs).first()
        brackets: dict[str, tuple[float, float, int]] = {}
        for c, ps in list(todo.items()):
            b = row1[f"b::{c}"]
            if b is None:
                # sample missed every non-null value — widen to full range
                brackets[c] = (float("-inf"), float("inf"), counts[c])
                continue
            k = len(ps)
            brackets[c] = (float(min(b[:k])), float(max(b[k:])), counts[c])
        # pass 2: exact rank below each bracket + distinct in-bracket values
        # WITH COUNTS (tie-proof: a bracket degenerate to one heavily-tied
        # value compresses to one output row instead of n collected rows).
        rank_aggs = []
        parts = []
        for c, (blo, bhi, _n) in brackets.items():
            col = F.col(c)
            rank_aggs.append(F.sum((col < F.lit(blo)).cast("long")).alias(f"r::{c}"))
            # per-column branch: the between-filter sits directly on the scan
            # (predicate pushdown prunes row groups by min/max stats) and only
            # that one column is read
            parts.append(
                df.filter(col.between(F.lit(blo), F.lit(bhi)))
                .select(F.lit(c).alias("col"), col.cast("double").alias("value"))
            )
        row2 = df.agg(*rank_aggs).first()
        from functools import reduce as _reduce

        in_bracket = (
            _reduce(lambda a, b: a.unionByName(b), parts)
            .groupBy("col", "value")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        by_col: dict[str, list[tuple[float, int]]] = {c: [] for c in brackets}
        n_bracket_rows = 0
        for r in in_bracket.collect():
            n_bracket_rows += 1
            if n_bracket_rows > max_bracket:
                raise ValueError(
                    f"quantile brackets hold more than {max_bracket} distinct values — "
                    "raise `max_bracket` or use the approx path for this data scale"
                )
            by_col[r["col"]].append((float(r["value"]), int(r["cnt"])))

        def _order_stat(sorted_vals: list[tuple[float, int]], base: int, k: int) -> float | None:
            # k is a global 0-based rank; returns the value at that rank or
            # None when it falls outside the bracket
            cum = base
            for v, cnt in sorted_vals:
                if k < cum + cnt:
                    return v
                cum += cnt
            return None

        for c, (blo, bhi, n) in brackets.items():
            ps = todo[c]
            rank_below = int(row2[f"r::{c}"] or 0)
            vals = sorted(by_col[c])
            ok = True
            out = []
            for p in ps:
                pos = (n - 1) * p
                k_lo, k_hi = int(pos // 1), -int(-pos // 1)  # floor, ceil
                if k_lo < rank_below:
                    ok = False
                    break
                v_lo = _order_stat(vals, rank_below, k_lo)
                v_hi = _order_stat(vals, rank_below, k_hi)
                if v_lo is None or v_hi is None:
                    ok = False
                    break
                frac = pos - k_lo
                out.append(v_lo + frac * (v_hi - v_lo))
            if ok:
                results[c] = out
                todo.pop(c)
        delta *= 4  # widen for any column whose bracket missed
    if todo:
        raise RuntimeError(f"exact quantile refinement failed to converge for {sorted(todo)}")
    return results


def mode_value(df: DataFrame, col: str):
    """Column mode with the pandas tie-break: most frequent, then smallest value
    (reference m07_imputation/impute_data.py:53-56 — ``mode()[0]`` after sort).

    One groupBy (map-side combined) + a driver take(1) of the winner.
    Returns the Python scalar, or None for an all-null column.
    """
    row = (
        df.filter(F.col(col).isNotNull())
        .groupBy(col)
        .count()
        .orderBy(F.desc("count"), F.asc(col))
        .take(1)
    )
    return row[0][0] if row else None


def any_horizontal(cols: list[Column]) -> Column:
    """Row-wise OR over flag columns (reference detect_outliers.py:81) with
    null-as-false semantics."""
    out = F.lit(False)
    for c in cols:
        out = out | F.coalesce(c, F.lit(False))
    return out
