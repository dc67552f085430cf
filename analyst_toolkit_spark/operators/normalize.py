"""M03 normalization — rename, text standardize, value map, fuzzy match,
datetime parse, dtype coercion.

Reference semantics (m03_normalization/normalize_data.py):
- standardize_text: strip().lower(), null-preserving (:16-18)
- value map: exact-match replace; the string 'null' as a TARGET maps to real
  null (:56-70)
- fuzzy correction: distinct values not in the master list matched against it
  with a similarity scorer >= cutoff (:72-105)
- datetime parse: format cascade with fallback, errors ∈ raise/ignore/coerce,
  make_naive, NaT-added accounting (:107-244)
- numeric coercion: ALL-OR-NOTHING — any unparsable value leaves the whole
  column untouched (pandas to_numeric raises) (:246-280)

Spark design notes:
- casts/parses are expressions (codegen'd); error policies need a count of
  parse failures — batched via ``df.observe`` metrics wherever possible so the
  check rides along the next action instead of forcing an extra scan. The
  strict paths here use one explicit validation agg (documented per function).
- fuzzy matching collects only DISTINCT values (bounded by cardinality, not
  table size) and broadcasts the correction map — the 100 TB-safe shape.
"""

from __future__ import annotations

import difflib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from analyst_toolkit_spark.sources.io import local_frame

SQL_NULL_SENTINEL = "null"

#: Above this optimizer-estimated input size, fuzzy correction's "auto" mode
#: stops collecting distinct values to the driver and routes to the fully
#: in-plan distributed map (mirrors llm/scale.py pair_strategy).
FUZZY_DRIVER_THRESHOLD_BYTES = 256 << 20

#: Hard cap on distinct values build_fuzzy_map will collect; beyond it the
#: driver map would be unbounded — callers are pointed at the distributed
#: variant instead of silently OOM-ing the driver.
FUZZY_MAX_DISTINCT = 100_000


def fuzzy_strategy(df: DataFrame) -> str:
    """``"driver"`` (collect distinct values, difflib scorer) or
    ``"distributed"`` (in-plan Levenshtein map) — by optimizer plan size,
    exactly like :func:`analyst_toolkit_spark.llm.scale.pair_strategy`.
    Unknown size (in-memory relation without stats) stays ``"driver"``."""
    from analyst_toolkit_spark.functions.stats import plan_size_bytes

    size = plan_size_bytes(df)
    return "distributed" if 0 <= FUZZY_DRIVER_THRESHOLD_BYTES <= size else "driver"


def rename_columns(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """P3 column rename (normalize_data.py:29-37)."""
    return df.withColumnsRenamed({k: v for k, v in mapping.items() if k in df.columns})


def standardize_text(df: DataFrame, columns: list[str], case: str = "lower", trim: bool = True) -> DataFrame:
    """F1 strip+case text standardization, null-preserving (normalize_data.py:16-18)."""
    out = df
    for c in columns:
        col = F.col(c)
        if trim:
            col = F.trim(col)
        if case == "lower":
            col = F.lower(col)
        elif case == "upper":
            col = F.upper(col)
        out = out.withColumn(c, col)
    return out


def remap_values(df: DataFrame, column: str, mapping: dict) -> DataFrame:
    """F2 exact-value remap; target 'null' → real null (normalize_data.py:56-70).
    Compiles to a chained CASE WHEN — pure codegen, no UDF, no shuffle."""
    col = F.col(column)
    expr = None
    for k, v in mapping.items():
        target = F.lit(None) if (isinstance(v, str) and v.lower() == SQL_NULL_SENTINEL) else F.lit(v)
        cond = col.isNull() if k is None else (col == F.lit(k))
        expr = F.when(cond, target) if expr is None else expr.when(cond, target)
    if expr is None:
        return df
    return df.withColumn(column, expr.otherwise(col))


def _similarity(a: str, b: str) -> float:
    """Public-algorithm similarity scorer (difflib ratio, 0-100). The reference
    uses thefuzz WRatio (normalize_data.py:93); any >=cutoff canonicalizer
    serves the same contract — the semantic is 'map near-misses to the master
    list', not a specific scorer."""
    return 100.0 * difflib.SequenceMatcher(None, a.lower(), b.lower()).ratio()


def build_fuzzy_map(df: DataFrame, column: str, master: list[str], cutoff: float = 80.0) -> dict[str, str]:
    """F3 fuzzy correction map: distinct values not in the master list matched
    to their best master candidate at >= cutoff similarity.

    Collects DISTINCT values only, hard-capped at FUZZY_MAX_DISTINCT — a
    high-cardinality column raises instead of collecting unbounded data to
    the driver; use :func:`fuzzy_correction_map_distributed` (or mode="auto"
    on :func:`apply_fuzzy_correction`, which gates by plan size) there.
    """
    rows = df.select(column).distinct().limit(FUZZY_MAX_DISTINCT + 1).collect()
    if len(rows) > FUZZY_MAX_DISTINCT:
        raise ValueError(
            f"build_fuzzy_map: >{FUZZY_MAX_DISTINCT} distinct values in {column!r}; "
            "use fuzzy_correction_map_distributed (the in-plan 100 TB path)"
        )
    distinct = [r[0] for r in rows if r[0] is not None]
    master_set = set(master)
    corrections: dict[str, str] = {}
    for v in distinct:
        if v in master_set:
            continue
        best, best_score = None, 0.0
        for m in master:
            s = _similarity(v, m)
            if s > best_score:
                best, best_score = m, s
        if best is not None and best_score >= cutoff:
            corrections[v] = best
    return corrections


def apply_fuzzy_correction(
    df: DataFrame, column: str, master: list[str], cutoff: float = 80.0, mode: str = "auto"
):
    """Build + apply the correction map. Returns (df, corrections).

    ``mode="driver"`` collects distinct values and remaps via a literal CASE
    chain (difflib scorer — reference-parity semantics); ``"distributed"``
    stays fully in-plan (Levenshtein scorer, broadcast map join — the 100 TB
    shape; corrections returned as None since the map never leaves the
    cluster). ``"auto"`` (default) picks by optimizer plan size via
    :func:`fuzzy_strategy`, so profiling a huge table can't trigger an
    unbounded driver collect.
    """
    if mode == "auto":
        mode = fuzzy_strategy(df)
    if mode == "distributed":
        return apply_fuzzy_correction_distributed(df, column, master, cutoff), None
    corrections = build_fuzzy_map(df, column, master, cutoff)
    return remap_values(df, column, corrections) if corrections else df, corrections


def fuzzy_correction_map_distributed(
    df: DataFrame, column: str, master: list[str], cutoff: float = 80.0
) -> DataFrame:
    """F3's 100 TB path: the correction map as a DataFrame, built fully
    in-plan — distinct values × (tiny, broadcast) master list scored with
    normalized Levenshtein similarity; best master ≥ cutoff wins. No driver
    collect of the distinct values (they may be millions at scale).

    Scorer note: ``100·(1 − lev/max_len)`` is a public-domain similarity that
    serves the same ≥-cutoff canonicalization contract as the reference's
    WRatio (normalize_data.py:93); cutoffs tuned per scorer.

    Output: value, corrected (one row per distinct out-of-list value that has
    a qualifying match) — apply with ``apply_fuzzy_correction_distributed``.
    """
    spark = df.sparkSession
    master_df = local_frame(spark, [(m,) for m in master], "master string")
    distinct = (
        df.select(F.col(column).alias("value"))
        .filter(F.col("value").isNotNull())
        .distinct()
        .join(F.broadcast(master_df), F.col("value") == F.col("master"), "left_anti")
    )
    lv = F.levenshtein(F.lower("value"), F.lower("master")).cast("double")
    max_len = F.greatest(F.length("value"), F.length("master")).cast("double")
    score = (F.lit(100.0) * (F.lit(1.0) - lv / F.greatest(max_len, F.lit(1.0)))).alias("score")
    scored = distinct.crossJoin(F.broadcast(master_df)).select("value", "master", score)
    w = Window.partitionBy("value").orderBy(F.desc("score"), F.asc("master"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("score") >= F.lit(cutoff)))
        .select("value", F.col("master").alias("corrected"))
    )


def apply_fuzzy_correction_distributed(
    df: DataFrame, column: str, master: list[str], cutoff: float = 80.0
) -> DataFrame:
    """Apply the distributed correction map via a broadcast left join —
    correction maps too large for a CASE WHEN chain stay on the cluster."""
    cmap = fuzzy_correction_map_distributed(df, column, master, cutoff)
    return (
        df.join(F.broadcast(cmap), df[column] == cmap["value"], "left")
        .withColumn(column, F.coalesce(F.col("corrected"), F.col(column)))
        .drop("value", "corrected")
    )


class LazyNatCount:
    """NaT-added counter resolved on demand, not per call (SURVEY §4.2.5).

    The round-4 implementation ran an eager full-column agg on EVERY parse
    call even when the caller discarded the count — one extra scan per parse
    at 100 TB. This defers the accounting agg until the value is actually
    read (``int(x)`` / comparisons), and caches it; callers that never read
    it (the common profile/bench path) pay ZERO extra scans.

    Why not ``df.observe``: CollectMetrics re-executes whenever its subtree
    does — a global sort's range-partitioning sampling pass, a stage retry,
    or a reused subtree each run the node again and the metric double-counts
    (reproduced live: orderBy().collect() over an observed parse reported
    2× the true NaT count). Exact changelog accounting can't ride an
    at-least-once metric, so the deferred exact agg (column-pruned, one
    scan, only when asked) is the correct Spark shape here.
    """

    def __init__(self, fallback):
        self._fallback = fallback  # () -> int, one column-pruned agg
        self._value: int | None = None

    @property
    def value(self) -> int:
        if self._value is None:
            self._value = int(self._fallback())
        return self._value

    def __int__(self) -> int:
        return self.value

    __index__ = __int__

    def __eq__(self, other) -> bool:
        return self.value == other

    def __lt__(self, other) -> bool:
        return self.value < other

    def __le__(self, other) -> bool:
        return self.value <= other

    def __gt__(self, other) -> bool:
        return self.value > other

    def __ge__(self, other) -> bool:
        return self.value >= other

    def __add__(self, other):
        return self.value + other

    __radd__ = __add__

    def __hash__(self) -> int:
        return hash(self.value)

    def __repr__(self) -> str:
        return repr(self.value) if self._value is not None else "<LazyNatCount pending>"


def parse_datetime(
    df: DataFrame,
    column: str,
    formats: list[str] | None = None,
    errors: str = "coerce",
    make_naive: bool = False,
    target_col: str | None = None,
):
    """F4 datetime parse with format cascade + error policy
    (normalize_data.py:107-244). Returns (df, nat_added).

    - formats: Spark datetime patterns tried in order via coalesce
    - errors='coerce': failures → null; nat_added is a :class:`LazyNatCount`
      — the accounting agg runs only if the caller reads the count, so the
      hot path (count discarded) adds NO extra scan (SURVEY §4.2.5; the old
      eager agg doubled every parse at 100 TB)
    - errors='raise': count failures eagerly (the answer gates plan choice)
      and raise with examples
    - errors='ignore': leave the column untouched if ANY value fails (also
      needs the eager answer)
    - nat_added = src non-null but parsed null
    """
    target = target_col or column
    src = F.col(column)
    # Column API, not interpolated F.expr strings: column names needing
    # backquotes (spaces/dots/hyphens) and quotes inside format strings must
    # not break or inject into a SQL fragment.
    if formats:
        parsed = F.coalesce(*[F.try_to_timestamp(src, F.lit(fmt)) for fmt in formats])
    else:
        parsed = F.try_to_timestamp(src)

    fail_pred = src.isNotNull() & parsed.isNull()
    out_col = parsed.cast("timestamp_ntz") if make_naive else parsed

    if errors == "coerce":

        def _eager() -> int:
            return df.agg(F.sum(fail_pred.cast("long")).alias("n")).collect()[0]["n"] or 0

        return df.withColumn(target, out_col), LazyNatCount(_eager)

    # raise/ignore genuinely need the count BEFORE committing to a plan —
    # one column-pruned agg
    failed_cnt = df.agg(F.sum(fail_pred.cast("long")).alias("n")).collect()[0]["n"] or 0
    if errors == "raise" and failed_cnt > 0:
        examples = [r[0] for r in df.filter(src.isNotNull() & parsed.isNull()).select(column).limit(5).collect()]
        raise ValueError(f"datetime parse failed for {failed_cnt} values in {column!r}; examples: {examples}")
    if errors == "ignore" and failed_cnt > 0:
        return df, 0
    return df.withColumn(target, out_col), failed_cnt


def coerce_numeric(df: DataFrame, column: str, target_type: str = "double"):
    """F5/F6 all-or-nothing cast (normalize_data.py:246-280,
    final_audit_producer.py:47-74): if ANY non-null value fails the cast the
    column is left untouched and reported; otherwise cast. Returns
    (df, {"applied": bool, "failed_count": int}).

    Uses try_cast so the probe is one agg; Spark's plain cast would silently
    null — the exact trap this wrapper exists to prevent.
    """
    src = F.col(column)
    casted = src.try_cast(target_type)
    failed = df.agg(F.sum((src.isNotNull() & casted.isNull()).cast("long")).alias("n")).collect()[0]["n"] or 0
    if failed > 0:
        return df, {"applied": False, "failed_count": int(failed)}
    return df.withColumn(column, src.cast(target_type)), {"applied": True, "failed_count": 0}
