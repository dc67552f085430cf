"""Scale gates for the similarity/dedup operators.

All-pairs similarity (cosine self-join, n-gram Jaccard self-join) is O(n²) —
the right *baseline* at test scale and a guaranteed melt-down at 100 TB. The
bucketed variants (hyperplane LSH, MinHash banding) are the scale shape but
trade recall. ``pair_strategy`` picks per input size so callers get exact
semantics while exact is affordable and the bucketed plan beyond that,
mirroring ``functions.stats.quantile_strategy``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from analyst_toolkit_spark.functions.stats import plan_row_estimate, plan_size_bytes

#: Above this optimizer-estimated input size, "auto" pair operators switch
#: from the exact all-pairs plan to the bucketed (LSH/banded) plan. All-pairs
#: work grows with the SQUARE of input size, so this gate is much lower than
#: the quantile gates.
ALLPAIRS_THRESHOLD_BYTES = 64 << 20

#: Row ceiling for the exact all-pairs tier. Bytes alone are NOT a safe gate
#: for O(n²) work: 5k short documents fit in a few MB of parquet yet make
#: 25M candidate pairs (found as a multi-minute stall in the round-4 sf0.1
#: sweep — ngram_jaccard / cosine all-pairs sailed under the 64 MB gate;
#: 2k embedding rows still meant 4M cosine pairs at 32.6 s). When the byte
#: gate passes, a column-free count() confirms the row count; that one
#: cheap scan is noise next to the quadratic job it prevents.
ALLPAIRS_MAX_EXACT_ROWS = 1500


def ensure_parallelism(df: DataFrame, target: int | None = None) -> DataFrame:
    """Repartition UP when the input has fewer partitions than the cluster
    has slots. Compute-heavy map stages (simhash/minhash signature folds)
    otherwise run on a handful of tasks while the rest of the cluster idles —
    a one-file sf0.1 corpus computed its signatures on 1 of 32 cores. At
    100 TB any real table already has far more partitions than slots, so
    this is a no-op there; the small-input shuffle it adds is trivial next
    to the fold it parallelizes (measured ~4x on the md5-SimHash queries)."""
    spark = df.sparkSession
    try:
        target = target or spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < target:
            return df.repartition(target)
    except Exception:
        pass  # Connect: no sparkContext — partitioning is the server's call
    return df


def pair_strategy(
    df: DataFrame,
    threshold_bytes: int | None = None,
    max_exact_rows: int | None = None,
) -> str:
    """``"exact"`` (all-pairs affordable) or ``"bucketed"`` (LSH shape).

    Two gates, both must pass for exact: optimizer plan bytes under the byte
    threshold (free, catches the obviously-huge), then an actual row count
    under ``ALLPAIRS_MAX_EXACT_ROWS`` (one column-free scan — quadratic cost
    scales with rows², which bytes cannot bound for short rows). Unknown
    plan size no longer short-circuits to exact; the row count decides.
    When the optimizer's ROW estimate is known and comfortably under the cap
    (local relations, CBO-analyzed tables) the count scan is skipped — the
    strategy probe stays plan-only for those inputs.
    """
    thr = ALLPAIRS_THRESHOLD_BYTES if threshold_bytes is None else threshold_bytes
    cap = ALLPAIRS_MAX_EXACT_ROWS if max_exact_rows is None else max_exact_rows
    size = plan_size_bytes(df)
    if 0 <= thr <= size:
        return "bucketed"
    est = plan_row_estimate(df)
    if 0 <= est <= cap // 2:
        return "exact"
    return "bucketed" if df.count() > cap else "exact"
