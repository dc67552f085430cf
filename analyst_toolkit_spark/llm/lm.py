"""Character n-gram language-model quality scoring (CCNet-style).

CCNet (Wenzek et al., "CCNet: Extracting High Quality Monolingual Datasets
from Web Crawl Data", arXiv:1911.00359) filters web text by perplexity under
a small language model trained on clean in-domain text. KenLM is a
single-machine C++ structure; the distributed re-expression here:

- the MODEL is conditional character-n-gram relative frequencies — a bounded,
  data-sized table (distinct grams of the training corpus), built with two
  keyed aggregations;
- SCORING is a map-side gram explode, one equi-join against the model, and
  one keyed aggregation per document. Nothing quadratic, no Python UDFs.

No ``ln()`` in the data plane: the score is the MEAN CONDITIONAL PROBABILITY
per gram, which is monotone with log-likelihood for thresholding purposes and
— unlike ``ln`` (1-ulp differences between libm and the JVM) — bit-reproducible
across engines, so the DuckDB oracle can hash-match it. OOV grams score 0,
the hard analogue of KenLM's backoff penalty.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from analyst_toolkit_spark.llm.text import normalize_text


def _ngrams_of(t: Column, n: int) -> Column:
    """Char n-grams of an ALREADY-MATERIALIZED string column. ``t`` MUST be a
    bound attribute (a projected column), never a compound expression:
    Catalyst inlines the lambda body per element, so an expression here is
    re-evaluated once per gram position — with normalize_text inlined that
    meant ~len(text) regex evaluations per row (measured 28 s -> 3 s at
    sf0.1; the third occurrence of the expression-duplication lesson after
    r5's lit_vec and r6's PQ score arrays). Empty array when shorter than
    ``n`` (Spark's ``sequence(1, 0)`` would DESCEND — guarded)."""
    m = F.length(t) - F.lit(n - 1)
    idx = F.when(m >= 1, F.sequence(F.lit(1), m)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(idx, lambda i: t.substr(i, F.lit(n)))


def _ngrams_of_chars(ch: Column, n: int) -> Column:
    """Char n-grams over an ALREADY-PROJECTED ``split(text, '')`` array —
    the O(len) fast form of :func:`_ngrams_of` (r16 optimization round).
    ``substr(i, n)`` on a UTF8String walks from byte 0 to locate the i-th
    codepoint, so the substr form is O(len²) per row — measured 1.8 s of
    charlm_score's 2.4 s at sf0.1 (~300-char docs). Splitting once into a
    char array and building each gram from ``n`` O(1) ``element_at`` lookups
    produced the identical gram multiset (verified incl. astral codepoints:
    Java regex zero-width matches never land inside a surrogate pair, so
    ``split('')`` is codepoint-correct) at 1.09 s vs 1.93 s. ``ch`` MUST be
    a bound attribute — a compound expression here is re-evaluated once per
    gram position AND per element_at (the _ngrams_of lesson, ~30x measured
    when violated). Null/short inputs yield the empty array, exactly like
    :func:`_ngrams_of`; element_at stays in bounds by construction (max
    index = size(ch)). ``split('', '')`` is ``['']``, one element for zero
    characters: it counts as length 0, so the empty string yields no
    unigram either."""
    nchars = F.size(ch) - F.when(F.try_element_at(ch, F.lit(1)) == "", 1).otherwise(0)
    m = nchars - F.lit(n - 1)
    idx = F.when(m >= 1, F.sequence(F.lit(1), m)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx, lambda i: F.concat(*[F.element_at(ch, i + off) for off in range(n)])
    )


def train_char_lm(df: DataFrame, key: str = "text", n: int = 3) -> DataFrame:
    """MLE conditional model over a training corpus: one row per distinct
    gram with ``prob`` = P(last char | first n-1 chars) = count(gram) /
    count(prefix). One corpus-scale aggregation (the gram counts — the only
    fact-scale shuffle, map-side combined) followed by a prefix-partitioned
    window SUM over the vocabulary-sized gram table. The former
    groupBy-prefix + join-back shape evaluated the whole corpus-scale gram
    aggregation in TWO independent subtrees (no lineage cut — two parquet
    scans + two explode/agg passes in the plan); the window computes the
    identical prefix totals (exact long sums, order-free) over the counts it
    already has, in one linear plan. Identical ``prob`` values."""
    from pyspark.sql.window import Window

    nrm = df.select(F.split(normalize_text(F.col(key)), "").alias("__ch"))
    tri = (
        nrm.select(F.explode(_ngrams_of_chars(F.col("__ch"), n)).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w = Window.partitionBy(F.substring("gram", 1, n - 1))
    return tri.select(
        "gram", (F.col("__c") / F.sum("__c").over(w)).alias("prob")
    )


def charlm_score(
    df: DataFrame,
    model: DataFrame,
    key: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    keep_cols: list[str] | None = None,
    broadcast_model: bool | None = None,
) -> DataFrame:
    """Score every document against a trained model: one output row per doc
    with ``n_grams`` (gram positions), ``oov_grams`` (grams unseen in
    training — scored 0), and ``mean_prob`` (mean conditional probability,
    higher = more in-domain). Documents whose normalized text is shorter
    than ``n`` emit no grams and are absent, both here and in the oracle.

    ``broadcast_model``: None (default) adds no hint — the model's size is
    data-dependent (a CJK corpus has an unbounded character alphabet), so
    AQE's runtime statistics decide; pass True only when the caller KNOWS the
    model is small (same trust-nothing rule as llm/scale.pair_strategy)."""
    keep = keep_cols or []
    nrm = df.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        F.split(normalize_text(F.col(key)), "").alias("__ch"),
    )
    gdf = nrm.select(
        F.col(id_col), *[F.col(c) for c in keep], F.explode(_ngrams_of_chars(F.col("__ch"), n)).alias("gram")
    )
    m = F.broadcast(model) if broadcast_model else model
    joined = gdf.join(m, "gram", "left")
    return joined.groupBy(F.col(id_col), *[F.col(c) for c in keep]).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.isnull("prob").cast("long")).alias("oov_grams"),
        F.avg(F.coalesce(F.col("prob"), F.lit(0.0))).alias("mean_prob"),
    )
