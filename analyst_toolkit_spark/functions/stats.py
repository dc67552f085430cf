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

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

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
#: overflow falls back to the builtin aggregate (same exact results).
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


def quantile_strategy(
    df: DataFrame, exact: bool = True, threshold_bytes: int | None = None
) -> str:
    """Pick the quantile execution shape for this frame's size:

    - ``"approx"``  — caller asked for ``exact=False``: t-digest sketch,
      mergeable map-side, no sort. The non-oracle 100 TB fast path.
    - ``"driver"``  — tiny known inputs: one Arrow collect of the needed
      columns + exact numpy interpolation (what pandas/DuckDB do; 4-6×
      faster than the percentile aggregate at this scale).
    - ``"builtin"`` — exact ``percentile`` aggregate. Right in the middle:
      one fused agg pass, but its final merge is single-threaded and memory
      is O(distinct values).
    - ``"refined"`` — ``exact_quantiles_refined``: 3 bounded passes whose
      memory is O(bracket), independent of table size. Same exact results;
      the shape that survives 100 TB.

    All three exact tiers return identical linearly-interpolated values —
    the choice is purely an execution-shape choice. Unknown plan size
    (in-memory relations without stats) stays on ``"builtin"`` — at cluster
    scale real lake tables always carry footer or catalog stats, so unknown
    means a small local relation here.
    """
    if not exact:
        return "approx"
    thr = QUANTILE_REFINE_THRESHOLD_BYTES if threshold_bytes is None else threshold_bytes
    size = plan_size_bytes(df)
    if 0 <= thr <= size:
        return "refined"
    if 0 <= size <= QUANTILE_DRIVER_THRESHOLD_BYTES:
        return "driver"
    return "builtin"


def collect_driver_bounded(df: DataFrame, cols: list[str]):
    """Bounded driver collect for the small-input tiers: a column-free
    ``count()`` guard first (nothing is collected at all when the optimizer
    mis-estimated and the frame exceeds ``QUANTILE_DRIVER_MAX_ROWS``), then a
    plain parallel ``toPandas``. Returns the pandas frame or None on overflow.

    Why not ``limit(cap+1).toPandas()`` (the previous guard): a global limit
    plans as CollectLimitExec — a serial, single-task collection — measured
    ~3x slower than the parallel Arrow collect on a 600k-row projection
    (0.73 s vs 0.26 s at sf0.1). The count guard is also strictly safer:
    the limit probe materialized cap+1 rows before deciding; this collects
    zero rows when over budget. The count scan is column-free (Catalyst
    prunes every column), so it reads parquet metadata + row existence only.
    """
    if df.count() > QUANTILE_DRIVER_MAX_ROWS:
        return None
    return df.select(*cols).toPandas()


def quantiles_driver(
    df: DataFrame, cols_ps: dict[str, list[float]], minmax: bool = False, nunique: bool = False
):
    """Exact quantiles for TINY inputs: collect the needed columns once over
    Arrow, ``np.quantile`` (linear interpolation — same formula as the
    builtin aggregate and pandas) per column. Gated by ``quantile_strategy``
    behind ``QUANTILE_DRIVER_THRESHOLD_BYTES``.

    Mis-estimate guard: the plan-bytes gate trusts the optimizer, and parquet
    bytes under-estimate in-memory pandas footprint (dictionary-encoded
    strings, many columns). The collect therefore goes through
    ``collect_driver_bounded`` — a column-free count guard, so memory stays
    bounded no matter how wrong the estimate was (zero rows collected on
    overflow) — and on overflow the function silently computes the same
    answer with the distributed builtin aggregate instead. Either way the
    caller gets exact results from one call.

    Returns ``{col: [q...]}``; with ``minmax`` and/or ``nunique`` set, a tuple
    appending ``{col: (min, max)}`` and/or ``{col: distinct_count}`` (pandas
    ``nunique`` — null-excluding, same as ``countDistinct``) computed from the
    same single collect. All-null columns yield ``[None, ...]`` / ``(None, None)``.
    """
    import numpy as np

    pdf = collect_driver_bounded(df, list(cols_ps))
    if pdf is None:
        return _quantiles_builtin_fallback(df, cols_ps, minmax, nunique)
    out: dict[str, list] = {}
    mm: dict[str, tuple] = {}
    nu: dict[str, int] = {}
    for c, ps in cols_ps.items():
        series = pdf[c].dropna()
        nu[c] = int(series.nunique())
        vals = series.to_numpy(dtype=float)
        if vals.size == 0:
            out[c] = [None] * len(ps)
            mm[c] = (None, None)
        else:
            out[c] = [float(x) for x in np.quantile(vals, ps)]
            mm[c] = (float(vals.min()), float(vals.max()))
    result: tuple = (out,)
    if minmax:
        result += (mm,)
    if nunique:
        result += (nu,)
    return result if len(result) > 1 else out


def _quantiles_builtin_fallback(
    df: DataFrame, cols_ps: dict[str, list[float]], minmax: bool, nunique: bool
):
    """quantiles_driver's overflow path: same result shape, distributed.

    Quantiles go through :func:`exact_quantiles_refined`, NOT the builtin
    ``percentile`` aggregate: an input that tripped the row guard (>4M rows)
    sits exactly where the builtin's single-threaded value→count merge is
    slowest — measured 7-11 s builtin vs 3-4.6 s refined on a 6M-row column
    (the round-5 10× scale sweep caught outlier bounds hitting this path at
    45× the sf0.1 latency). min/max add one fused agg; countDistinct stays
    a separate agg on purpose — fusing it would trigger Catalyst's EXPAND
    rewrite (see operators/profile.py). Results are identical across tiers.
    """
    out = dict(exact_quantiles_refined(df, {c: [float(p) for p in ps] for c, ps in cols_ps.items()}))
    mm = {}
    if minmax:
        aggs = []
        for c in cols_ps:
            aggs.append(F.min(c).alias(f"mn_{c}"))
            aggs.append(F.max(c).alias(f"mx_{c}"))
        row = df.agg(*aggs).first()
        for c in cols_ps:
            mn, mx = row[f"mn_{c}"], row[f"mx_{c}"]
            mm[c] = (None, None) if mn is None else (float(mn), float(mx))
    result: tuple = (out,)
    if minmax:
        result += (mm,)
    if nunique:
        nu_row = df.agg(*[F.countDistinct(c).alias(c) for c in cols_ps]).first()
        result += ({c: int(nu_row[c]) for c in cols_ps},)
    return result if len(result) > 1 else out


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
    accuracy: int = 10_000,
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
    {col: [q for each p]} (None where the column is all-null). ``accuracy`` is
    kept for API compatibility with the sketch-based fast path and bounds the
    error message threshold only.
    """
    todo = {c: list(ps) for c, ps in cols_ps.items() if ps}
    results: dict[str, list[float]] = {c: [None] * len(ps) for c, ps in cols_ps.items()}

    # pass 0: non-null counts (needed for rank targets regardless of method)
    count_row = df.agg(*[F.count(F.col(c)).alias(c) for c in todo]).first()
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
            aggs.append(percentile_exact(F.col(c), qs).alias(f"b::{c}"))
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
