"""Importance-weighted data selection (DSIR-style).

The standard "pick web documents that look like a quality target corpus"
step of a pre-training pipeline (Xie et al., *Data Selection for Language
Models via Importance Resampling*, NeurIPS 2023): score every raw document
by the log importance weight of its HASHED n-gram features under a
target-vs-raw bag-of-buckets model, then keep the high-weight slice.

Reference parity note: the reference toolkit has no data-selection stage
(its scope ends at profiling/validation, see SURVEY.md §2); this module is
part of the training-data-pipeline extension surface the build brief asks
for, same tier as llm/dedup.py.

Design for 100 TB:

- Features are token buckets: ``bucket = first 8 md5 hex chars % B`` — the
  same engine-portable arithmetic as :func:`~analyst_toolkit_spark.llm.
  text.hash_split`, so every weight reproduces bit-for-bit in DuckDB SQL.
- ONE tokenize pass over the corpus: the (doc, bucket, n) aggregate is cut
  with ``localCheckpoint(eager=False)`` before fanning out to its three
  consumers; the call is not lazy (it runs the tokenize and shuffle-map
  stages before it returns, and the first action stores the cut)
  (the raw bucket distribution, the raw total, and the per-doc scoring
  join). Without the cut, Catalyst's per-branch column pruning makes the
  three aggregate subtrees canonically unequal, so neither static
  ReusedExchange nor AQE stage reuse fires and the corpus is re-tokenized
  per branch (measured: zero reuse, 3 tokenize passes). Same tradeoff the
  dedup band-once cut makes: checkpoint storage is (doc, bucket) count
  rows — already aggregated, far smaller than the token stream — versus
  re-running the dominant tokenize+hash fold per consumer.
- The bucket-weight table is structurally bounded at B rows (the key is
  ``% B``) no matter the corpus size, so the scoring join never carries a
  hard broadcast hint — AQE sees a <= B-row side and broadcasts it on its
  own (the decontaminate() lesson: corpus-derived != fixed-size, but
  modulo-bounded IS fixed-size; we still let AQE decide).
- Per-doc score = sum over <= B bucket terms of ``n_db * w_b`` — integer
  counts times per-bucket log ratios, rounded at 6 AFTER the sum (the
  accumulation-order acceptance every float aggregate here uses).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import token_stream

__all__ = ["hash_bucket", "dsir_logweights", "dsir_select"]


def hash_bucket(col: str | Column, buckets: int) -> Column:
    """Engine-portable token -> feature bucket: first 8 md5 hex chars as an
    integer, modulo ``buckets``. DuckDB mirror:
    ``CAST(concat('0x', substr(md5(t), 1, 8)) AS UBIGINT) % B``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long") % int(buckets)


def dsir_logweights(
    df: DataFrame,
    target: DataFrame,
    key: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1024,
    alpha: float = 0.5,
) -> DataFrame:
    """Per-document DSIR log importance weight of ``df`` (the raw pool)
    against ``target`` (the quality corpus the selected data should
    resemble).

    Model: unigram bag-of-hashed-buckets with add-``alpha`` smoothing.
    Bucket weight ``w_b = ln((t_b + a) / (T + aB)) - ln((r_b + a) / (R + aB))``
    where ``t_b``/``r_b`` are target/raw occurrence counts in bucket ``b``
    and ``T``/``R`` the totals; a document's log weight is the sum of its
    tokens' bucket weights, computed as ``sum_b n_db * w_b`` over its
    <= B distinct buckets.

    Returns one row per input document: ``(id, n_tokens, log_weight,
    selected)`` with ``selected = round(log_weight, 6) > 0`` (weight above
    the geometric break-even: the doc looks more target-like than
    raw-like). Zero-token documents keep weight 0.0 (an empty product), not
    null. ``log_weight`` is rounded at 6.
    """
    b = int(buckets)
    a = float(alpha)

    doc_b = (
        token_stream(df, key, id_col)
        .withColumn("bucket", hash_bucket("token", b))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        # cut: the call runs the tokenize and shuffle-map stages, the
        # query's first action stores the aggregate, and all three consumers
        # share it — the single-tokenize-pass guarantee (see module
        # docstring; plan-asserted in tests/test_plans.py)
        .localCheckpoint(eager=False)
    )
    raw_b = doc_b.groupBy("bucket").agg(F.sum("n").alias("rn"))
    tgt_b = (
        token_stream(target, key, id_col)
        .withColumn("bucket", hash_bucket("token", b))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("tn"))
        # second cut (its shuffle-map stage runs here): the target bucket
        # table (<= B rows) feeds both the weight join and the T total;
        # without it the T branch would re-tokenize the target slice
        .localCheckpoint(eager=False)
    )
    # groupless totals over the cuts: 1-row frames, structurally bounded —
    # plain cross joins (Catalyst plans them as a 1-row broadcast), no
    # unpartitioned window anywhere (the registry-wide single-task rule)
    raw_tot = doc_b.agg(F.sum("n").alias("R"))
    tgt_tot = tgt_b.agg(F.coalesce(F.sum("tn"), F.lit(0)).alias("T"))

    w_b = (
        # raw buckets drive the table: a bucket no raw token hashes into can
        # never be referenced by a raw document's score
        raw_b.join(tgt_b, "bucket", "left")
        .crossJoin(raw_tot)
        .crossJoin(tgt_tot)
        .select(
            "bucket",
            (
                F.log((F.coalesce(F.col("tn"), F.lit(0)) + a) / (F.col("T") + a * b))
                - F.log((F.col("rn") + a) / (F.col("R") + a * b))
            ).alias("w"),
        )
    )

    scored = (
        doc_b.join(w_b, "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("n").alias("n_tokens"),
            F.round(F.sum(F.col("n") * F.col("w")), 6).alias("log_weight"),
        )
    )
    out = (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce(F.col("log_weight"), F.lit(0.0)).alias("log_weight"),
        )
    )
    return out.withColumn("selected", F.col("log_weight") > 0.0)


def dsir_select(
    df: DataFrame,
    target: DataFrame,
    key: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1024,
    alpha: float = 0.5,
) -> DataFrame:
    """The filter form: keep the documents of ``df`` whose DSIR log weight
    against ``target`` is positive, carrying the weight column through.
    One id-keyed join of the weight frame back onto the full-column input
    (the weight frame holds ids + two numerics only — document bodies never
    enter the scoring shuffles)."""
    w = dsir_logweights(df, target, key, id_col, buckets, alpha)
    return df.join(
        w.filter(F.col("selected")).select(id_col, "log_weight"), id_col, "inner"
    )
