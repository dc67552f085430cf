"""Bottom-k (KMV) set sketches for corpus-level overlap and cardinality.

K-Minimum-Values sketches (Beyer et al., *On Synopses for Distinct-Value
Estimation Under Multiset Operations*, SIGMOD 2007): the k smallest hash
values of a set are a fixed-size synopsis that supports distinct-count
estimation AND union/intersection composition — which makes them the right
tool for the corpus-governance questions a 100 TB ingest asks per source
pair ("how much does CommonCrawl-A overlap CommonCrawl-B?") without ever
materializing a cross-source shingle intersection.

Reference parity note: the reference toolkit's dedup scope is row-level
(SURVEY.md §2 A12/A13); corpus-pair overlap is part of the LLM-pipeline
extension surface.

Everything here is DETERMINISTIC given the hash (md5), so the DuckDB oracle
reproduces the *estimator output* bit-for-bit — the estimates are
cross-engine checkable even though they are estimates of the underlying
sets.

Design for 100 TB:

- The only corpus-scale stage is the distinct (group, shingle-hash) stream —
  one shuffle, the same cost class as any dedup fingerprint pass.
- Bottom-k is TWO-STAGE: a first row_number window over (group, first hex
  char) keeps k per 16-way salt slice in parallel, the second window ranks
  the <= 16k survivors per group. The global bottom-k of a set is always
  contained in the union of per-slice bottom-ks, so this is exact — and no
  full per-group sort of the distinct-hash stream ever happens (the OOV
  vocab TakeOrdered lesson, applied to grouped top-k).
- Sketch frames are <= groups * k rows — bounded by parameters, tiny; every
  pair-stage join downstream is AQE-broadcast territory with no hint.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import shingles

__all__ = ["kmv_sketch", "kmv_distinct_estimate", "kmv_overlap"]

#: hash -> [0,1) resolution: first 12 md5 hex chars over 16^12 (the
#: hash_uniform convention — 48 bits, reproducible in DuckDB SQL).
_FRACTION_HEX = 12


def _hash_fraction(h: Column) -> Column:
    return F.conv(F.substring(h, 1, _FRACTION_HEX), 16, 10).cast("double") / F.lit(
        float(16**_FRACTION_HEX)
    )


def kmv_sketch(
    df: DataFrame,
    key: str = "text",
    group_col: str = "source",
    k: int = 256,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-group bottom-k sketch of the distinct word-``shingle_n``-gram set:
    ``(group, h, rank)`` with ``h`` the md5 hex of the shingle and ``rank``
    its 1-based position among the group's smallest hashes (hex order ==
    numeric order for fixed-width lowercase hex). Groups with fewer than
    ``k`` distinct shingles keep them all."""
    kk = int(k)
    sh = df.select(
        F.col(group_col).alias("grp"), F.explode(shingles(key, shingle_n)).alias("sh")
    )
    # r15 optimization round: dedup on the RAW GRAM before hashing — the
    # distinct exchange ships ~18-char grams instead of 32-char hex, and
    # md5 runs once per distinct (group, gram) instead of once per
    # occurrence (common grams dominate occurrences at corpus scale). A
    # crafted md5 collision would now surface as two equal h values inside
    # one slice, so the slice stage ranks with dense_rank (ranks distinct
    # VALUES) and drops adjacent duplicates via lag over the same window
    # spec (no extra sort) — output identical to the old
    # distinct-on-(grp,hex) construction on every input, collisions
    # included. Measured (OPTIMIZATION_r15.md): the distinct stage
    # 1.50 -> 1.22 s at sf0.1; the rejected one-shuffle dense_rank-only
    # form (no gram distinct) shuffled the full occurrence stream and
    # measured no win (2.16 vs 2.03 s).
    h = sh.distinct().select("grp", F.md5("sh").alias("h"))
    w1 = Window.partitionBy("grp", F.substring("h", 1, 1)).orderBy("h")
    s1 = (
        h.withColumn("dr", F.dense_rank().over(w1))
        .withColumn("lg", F.lag("h").over(w1))
        .filter(
            (F.col("dr") <= kk) & (F.col("lg").isNull() | (F.col("lg") != F.col("h")))
        )
        .drop("dr", "lg")
    )
    w2 = Window.partitionBy("grp").orderBy("h")
    return (
        s1.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= kk)
        .select(F.col("grp").alias(group_col), "h", "rank")
    )


def kmv_distinct_estimate(sketch: DataFrame, k: int, group_col: str = "source") -> DataFrame:
    """Distinct-shingle cardinality per group from its bottom-k sketch:
    the KMV estimator ``(k - 1) / U_(k)`` with ``U_(k)`` the k-th smallest
    hash as a fraction of hash space; a group whose sketch is smaller than
    ``k`` is exhaustive, so its sketch size IS the exact count. Returns
    ``(group, sketch_size, est_distinct)``, estimate rounded at 6.

    ``U_(k)`` = 0 (estimate = Infinity) requires the first 12 md5 hex chars
    of the k-th SMALLEST hash to all be zero — P ≈ 2^-48 per group, and it
    implies k distinct shingles collide into the bottom 1/16^12 of hash
    space. Deliberately NOT clamped (r8 ADVICE): the DuckDB oracle runs the
    identical division, so both engines would produce inf together and the
    cross-engine contract holds even on that unreachable input."""
    kk = int(k)
    agg = sketch.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("sketch_size"),
        F.max(F.when(F.col("rank") == kk, _hash_fraction(F.col("h")))).alias("uk"),
    )
    return agg.select(
        group_col,
        "sketch_size",
        F.round(
            F.when(F.col("sketch_size") < kk, F.col("sketch_size").cast("double")).otherwise(
                (F.lit(float(kk - 1))) / F.col("uk")
            ),
            6,
        ).alias("est_distinct"),
    )


def kmv_overlap(sketch: DataFrame, k: int, group_col: str = "source") -> DataFrame:
    """Pairwise Jaccard estimates between all groups from their bottom-k
    sketches: for each pair, the merged sketch is the k smallest hashes of
    the UNION of the two sketches (a valid KMV sketch of the union set —
    the KMV closure property), and ``J ≈ |merged ∩ A ∩ B| / |merged|``.

    Returns one row per unordered pair: ``(group_a, group_b, merged_k,
    shared, kmv_jaccard)`` — ``merged_k`` <= k is the merged sketch size,
    ``shared`` the members of the merged sketch present in BOTH sides'
    sketches, estimate rounded at 6. All stages run over <= groups * k
    rows."""
    kk = int(k)
    # the sketch frame feeds FOUR plan branches (both pair sides, both
    # union arms); without a cut each branch would re-run the corpus-scale
    # distinct-shingle pipeline that produced it. The cut itself is
    # <= groups * k rows — trivially cheap (the DSIR doc_b lesson).
    sketch = sketch.localCheckpoint(eager=False)
    g = sketch.select(F.col(group_col).alias("g"), "h").distinct()
    pairs = (
        g.select(F.col("g").alias("ga"))
        .distinct()
        .join(g.select(F.col("g").alias("gb")).distinct(), F.col("ga") < F.col("gb"))
    )
    u = (
        pairs.join(g.withColumnRenamed("g", "ga"), ["ga"])
        .select("ga", "gb", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
        .unionAll(
            pairs.join(g.withColumnRenamed("g", "gb"), ["gb"])
            .select("ga", "gb", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b"))
        )
        .groupBy("ga", "gb", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    wm = Window.partitionBy("ga", "gb").orderBy("h")
    merged = u.withColumn("mrank", F.row_number().over(wm)).filter(F.col("mrank") <= kk)
    return (
        merged.groupBy("ga", "gb")
        .agg(
            F.count(F.lit(1)).alias("merged_k"),
            F.sum((F.col("in_a") * F.col("in_b")).cast("long")).alias("shared"),
        )
        .select(
            F.col("ga").alias("group_a"),
            F.col("gb").alias("group_b"),
            "merged_k",
            "shared",
            F.round(F.col("shared") / F.col("merged_k"), 6).alias("kmv_jaccard"),
        )
    )
