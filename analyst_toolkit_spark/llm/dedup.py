"""Deduplication operators for training-data pipelines.

Four tiers, all shuffle-aware:

- exact: groupBy on content hash — one shuffle on a short hash key.
- normalized-exact: same after text canonicalization (llm/text.normalize_text).
- MinHash + LSH: shingle → k minhashes → b bands → bucket join. Candidate
  generation is a self-join on (band, band_hash) — i.e. only rows that collide
  in some band ever meet, which is what makes near-dup feasible at 100 TB.
- SimHash: 64-bit signature via per-token hash bit-voting; near-dups = equal
  signatures (or small hamming distance via band trick on the signature).

Everything below uses Spark higher-order functions (transform / aggregate /
zip_with / filter) — JVM expressions, NO Python UDFs, no per-row Python cost.
"""

from __future__ import annotations

import itertools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from analyst_toolkit_spark.llm.scale import ensure_parallelism
from analyst_toolkit_spark.llm.text import normalize_text
from analyst_toolkit_spark.sources import io as S_io


def exact_dup_groups(df: DataFrame, key: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact-content duplicate clusters: (content hash, size, member ids).
    md5 keeps the shuffle key short regardless of document size."""
    return (
        df.select(F.md5(F.col(key)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("cluster_size"), F.sort_array(F.collect_list(id_col)).alias("members"))
        .filter(F.col("cluster_size") > 1)
    )


def normalized_dup_groups(df: DataFrame, key: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Near-dup via canonicalized content (case/punct/whitespace-insensitive)."""
    return (
        df.select(F.md5(normalize_text(F.col(key))).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("cluster_size"), F.sort_array(F.collect_list(id_col)).alias("members"))
        .filter(F.col("cluster_size") > 1)
    )


def shingles(col: str | Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array<string>.

    Grams come from n SHIFTED SLICES of the token array zipped together —
    O(n) array ops per row instead of one slice+concat per gram position
    (O(words*n); measured 3x slower at sf0.1 in the repetition_score twin).
    Output strings are bit-identical to the per-position construction, so
    every downstream hash (minhash signatures, persisted dedup indexes,
    decontamination gram sets) is unchanged."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.regexp_extract_all(F.lower(c), F.lit(r"[a-z0-9']+"), F.lit(0))
    g = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    parts = [F.slice(toks, i + 1, g) for i in range(n)]
    grams = parts[0]
    for p in parts[1:]:
        grams = F.zip_with(grams, p, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.array_distinct(grams)


def minhash_signature(shingle_col: Column, k: int = 64) -> Column:
    """k-permutation MinHash signature.

    Each shingle string is hashed ONCE (xxhash64(s)), then the k permutations
    re-hash that single long (xxhash64(h, seed_i)) inside one fold
    (aggregate + zip_with(least)). Hashing the long instead of re-hashing the
    string bytes k times cuts both runtime (~4×) and codegen compile time
    (~6× — matters for one-shot queries). Alternatives measured slower: k
    separate transform+array_min expressions (codegen blow-up), and an
    explode + wide k-column min-aggregate (exceeds codegen limits, falls back
    to interpreted). Empty input → all-max sentinel (callers filter size==0
    first).
    """
    hashes = F.transform(shingle_col, lambda s: F.xxhash64(s))
    seeds = F.sequence(F.lit(0), F.lit(k - 1))
    init = F.transform(seeds, lambda i: F.lit((1 << 63) - 1).cast("long"))
    return F.aggregate(
        hashes,
        init,
        lambda acc, h: F.zip_with(acc, F.transform(seeds, lambda i: F.xxhash64(h, i)), lambda a, b: F.least(a, b)),
    )


def minhash_signature_md5(shingle_col: Column, k: int = 8) -> Column:
    """Cross-engine-reproducible MinHash signature: H(s, i) = the first 15
    hex chars of md5(s || ':' || i) as a 60-bit positive long — computable
    bit-identically in DuckDB via ``CAST('0x' || substr(md5(..),1,15) AS
    BIGINT)`` (the simhash_md5 technique). ~an order of magnitude more
    digest work per shingle than :func:`minhash_signature`'s
    hash-the-long-once scheme, so this is the ORACLE TWIN, not the scale
    path. Empty input → all-max sentinel, same contract."""
    seeds = F.sequence(F.lit(0), F.lit(k - 1))
    init = F.transform(seeds, lambda i: F.lit((1 << 63) - 1).cast("long"))
    return F.aggregate(
        shingle_col,
        init,
        lambda acc, s: F.zip_with(
            acc,
            F.transform(
                seeds,
                lambda i: F.conv(
                    F.substring(F.md5(F.concat(s, F.lit(":"), i.cast("string"))), 1, 15), 16, 10
                ).cast("long"),
            ),
            lambda a, b: F.least(a, b),
        ),
    )


def _band_stream(
    df: DataFrame,
    key: str,
    id_col: str,
    n_shingle: int,
    k: int,
    bands: int,
    shingle_df: DataFrame | None = None,
    method: str = "xxhash",
) -> DataFrame:
    """(id, band, band_hash) rows — the shared LSH banding pass behind both
    the pair generator and the bipartite cluster path. Map-only: one
    signature fold per doc, exploded to ``bands`` rows. ``method='md5'``
    swaps in the cross-engine-reproducible signature + band hash (band_hash
    becomes the md5 hex string)."""
    r = k // bands
    sh = shingle_df if shingle_df is not None else df.select(F.col(id_col), shingles(key, n_shingle).alias("sh"))
    sig_fn = minhash_signature_md5 if method == "md5" else minhash_signature
    band_hash_fn = F.md5 if method == "md5" else F.xxhash64
    sig_df = sh.select(F.col(id_col), sig_fn(F.col("sh"), k).alias("sig"))
    return sig_df.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    band_hash_fn(
                        F.concat_ws(",", F.transform(F.slice("sig", b * r + 1, r), lambda x: x.cast("string")))
                    ).alias("band_hash"),
                ),
            )
        ).alias("bh"),
    ).select(id_col, "bh.band", "bh.band_hash")


#: Bucket-size cap shared by the pair generator AND the auto-gate's census
#: (r7 ADVICE: a census that stops mirroring the pair path's bucket drop
#: mis-estimates the gate) — degenerate buckets above this size (e.g. empty
#: docs all sharing the sentinel signature) contribute no pairs in either.
MAX_BUCKET = 1000

#: r15 optimization round — size gate for the positioned-gram-stream lineage
#: cut in :func:`repeated_spans`: inputs whose optimizer size estimate is at
#: or below this materialize the (id, pos, hash) stream once
#: (localCheckpoint) instead of re-deriving it for the census AND the hit
#: join; above it (or unknown, which is NOT small) the recompute form stands
#: — the stream is a multiple of the text bytes and would become
#: hundreds-of-TB executor spill at corpus scale.
SPAN_GRAM_CUT_MAX_INPUT_BYTES = 4 << 30

#: r16 — driver union-find tier for :func:`connected_components`: edge
#: graphs at or below this DISTINCT-edge count skip the distributed
#: fixpoint after the seed pass (the count rides an ``observe()`` on the
#: edge cache's first materialization, so learning it costs nothing) and
#: resolve driver-side — a 200k-edge graph is ~3 MB of longs, union-find
#: in milliseconds, versus 3-5 more fixpoint iterations each paying a job
#: plus label-sized shuffles. Labels are identical by construction (the
#: smallest transitively reachable node either way), and the returned
#: local relation broadcasts into every downstream join for free. Above
#: the cap (or with a durable ``checkpoint_dir``, the 100 TB posture) the
#: distributed fixpoint runs exactly as before. Data-size-adaptive, not a
#: core-count tune; 0 disables.
CC_DRIVER_TIER_MAX_EDGES = 200_000


def _union_find_labels(edge_rows):
    """(node, component=min reachable node) via path-compressed union-find
    over collected edge rows — the driver half of the CC driver tier.
    Comparison semantics match Spark's min over the same types: ints
    numerically, strings by code point (== UTF8String byte order for valid
    UTF-8), binary byte-wise."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    def _key(v):
        # collect() yields binary columns as (unhashable) bytearray
        return bytes(v) if isinstance(v, bytearray) else v

    for row in edge_rows:
        a, b = _key(row[0]), _key(row[1])
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    for v in parent:
        r = find(v)
        m = comp_min.get(r)
        if m is None or v < m:
            comp_min[r] = v
    return [(v, comp_min[find(v)]) for v in parent]


def minhash_candidates(
    df: DataFrame,
    key: str = "text",
    id_col: str = "doc_id",
    n_shingle: int = 3,
    k: int = 64,
    bands: int = 16,
    shingle_df: DataFrame | None = None,
    banded: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b) that collide in >= 1 band.

    Plan shape: map-only signature pass (single fold over the shingle array —
    a wide 64-column min-aggregate alternative measured ~4× SLOWER here: it
    exceeds whole-stage-codegen limits and falls back to interpreted mode) →
    explode to b rows/doc → shuffle on (band, band_hash) → bucket pairs. With
    r = k/b rows per band, collision prob ≈ 1-(1-j^r)^b for Jaccard j (the
    standard S-curve).

    ``banded`` short-circuits the signature pass with an already-computed
    (id, band, band_hash) stream (:func:`_band_stream` shape) — the
    band-once seam the auto-gate uses so the census and the chosen path
    share ONE signature computation (r7 VERDICT #3).
    """
    if banded is None:
        banded = _band_stream(df, key, id_col, n_shingle, k, bands, shingle_df)
    # bucket members per (band, band_hash), pairs expanded IN the bucket —
    # signatures are computed once (no self-join recompute) and only colliding
    # rows ever meet. MAX_BUCKET caps quadratic blowup on degenerate buckets.
    members = F.sort_array(F.collect_list(id_col))
    buckets = (
        banded.groupBy("band", "band_hash")
        .agg(members.alias("m"))
        .filter((F.size("m") > 1) & (F.size("m") <= MAX_BUCKET))
    )
    pairs = F.flatten(
        F.transform(
            F.col("m"),
            lambda x, i: F.transform(
                F.slice(F.col("m"), i + 2, F.size(F.col("m"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return buckets.select(F.explode(pairs).alias("p")).select("p.*").distinct()


def jaccard_verify(
    df: DataFrame,
    pairs: DataFrame,
    key: str = "text",
    id_col: str = "doc_id",
    n_shingle: int = 3,
    threshold: float = 0.8,
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """Re-rank LSH candidates with the exact shingle Jaccard; keeps pairs >=
    threshold.

    Shingles are computed ONLY for documents that appear in a candidate pair
    (broadcast semi-join first): the candidate set is orders of magnitude
    smaller than the corpus, so at scale the verify stage reads a sliver of
    the data instead of re-materializing corpus-wide shingle arrays."""
    if shingle_df is not None:
        sh = shingle_df
    else:
        ids = (
            pairs.select(F.col("id_a").alias(id_col))
            .union(pairs.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        sub = df.join(F.broadcast(ids), id_col, "left_semi")
        # r15 optimization round: the verify join below references sh for
        # BOTH pair sides, and each side otherwise re-evaluates the corpus
        # scan + candidate semi-join + shingle tokenization as its own
        # subtree (plan-visible as two independent scans). One cut halves
        # that (the call runs the candidate-id broadcast; the first verify
        # action runs the shingling and stores the cut). This is NOT corpus-wide shingle materialization (the
        # rule in minhash_dedup_pairs stands): sh is bounded by the
        # candidate-doc set — at scale a sliver of the corpus by the LSH
        # design, and exactly the frame both joins need.
        sh = sub.select(F.col(id_col), shingles(key, n_shingle).alias("sh")).localCheckpoint(
            eager=False
        )
    out = (
        pairs.join(sh.withColumnsRenamed({id_col: "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({id_col: "id_b", "sh": "sh_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.greatest(F.size(F.array_union("sh_a", "sh_b")), F.lit(1)),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


_SENTINEL_HASH_CACHE: dict = {}


def sentinel_band_hash(spark, k: int, bands: int, method: str = "xxhash"):
    """The band_hash every shingle-less doc produces: the all-max sentinel
    signature folds to the same r-element slice in every band, so its hash
    is ONE constant per (k//bands, method). Lets consumers drop sentinel
    rows from a banded stream with a literal comparison instead of
    pre-filtering on ``size(shingles(..)) > 0`` — that filter pushes below
    the projection and re-tokenizes every row (the expression-duplication
    trap; measured +0.5 s on 5k docs at sf0.1). md5 is computed in-process;
    xxhash64 needs one 1-row JVM job, memoized per SparkContext."""
    r = k // bands
    s = ",".join(["9223372036854775807"] * r)
    if method == "md5":
        import hashlib

        return hashlib.md5(s.encode()).hexdigest()
    cache_key = (r, "xxhash")
    if cache_key not in _SENTINEL_HASH_CACHE:
        _SENTINEL_HASH_CACHE[cache_key] = (
            spark.range(1).select(F.xxhash64(F.lit(s)).alias("h")).first()["h"]
        )
    return _SENTINEL_HASH_CACHE[cache_key]


def _materialize_nocodegen(
    src: DataFrame, build, checkpoint_dir: str | None = None
) -> DataFrame:
    """Eagerly materialize ``build(scoped_src)`` with whole-stage codegen OFF,
    re-bound to the caller's session. The signature-fold plans this serves are
    interpreted either way, so codegen only adds Janino compile time around
    them (measured 2× wall — see :func:`minhash_dedup_pairs`). The flag is
    scoped to a THROWAWAY ``newSession()`` (independent SQLConf, shared
    SparkContext) so a concurrent query on the caller's session never observes
    mutated global conf; plans cross sessions via global temp views. With
    ``checkpoint_dir`` the cut is a durable parquet cut (``00_banded``)
    instead of an eager ``localCheckpoint`` (same executor-loss rationale as
    :func:`connected_components`'s ``checkpoint_dir``)."""
    import uuid

    spark = src.sparkSession
    tag = uuid.uuid4().hex[:12]
    in_view, out_view = f"__nc_in_{tag}", f"__nc_out_{tag}"
    scoped = spark.newSession()
    scoped.conf.set("spark.sql.codegen.wholeStage", "false")
    src.createOrReplaceGlobalTempView(in_view)
    try:
        out = build(scoped.table(f"global_temp.{in_view}"))
        if checkpoint_dir:
            ckpt = S_io.cut(out, durable_dir=checkpoint_dir, name="00_banded")
            # re-read in the caller's session, reusing the cut's schema (no
            # second footer job): a scan planned in the scoped session stays
            # row-based, since codegen-off disables the vectorized reader
            path = f"{checkpoint_dir.rstrip('/')}/00_banded"
            return spark.read.schema(ckpt.schema).parquet(path)
        ckpt = out.localCheckpoint(eager=True)
        ckpt.createOrReplaceGlobalTempView(out_view)
        return spark.table(f"global_temp.{out_view}")
    finally:
        spark.catalog.dropGlobalTempView(in_view)
        spark.catalog.dropGlobalTempView(out_view)


def minhash_dedup_pairs(
    df: DataFrame,
    key: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    eager: bool = True,
    banded: DataFrame | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: candidates → exact-Jaccard verify.

    The input is repartitioned to full parallelism first: document corpora
    often arrive as few large files, and a compute-heavy map stage must not
    inherit the file-count partitioning (1 file → 1 task → 1 busy core).
    Shingle arrays are never materialized corpus-wide (caching or shuffling
    array<string> columns costs more than the recompute): the signature pass
    consumes them inline in one stage, and the verify pass recomputes them
    only for candidate documents. Only the tiny candidate-pair frame is cached.

    ``eager=True`` materializes the (small) result under
    ``spark.sql.codegen.wholeStage=false``: these higher-order-function
    expressions are interpreted either way, so whole-stage codegen only adds
    Janino compile time around them (measured 2× wall on a one-shot run and
    2× again on repeats). The flag is scoped to a THROWAWAY ``newSession()``
    (independent SQLConf, shared SparkContext) so a concurrent query on the
    caller's session can never observe mutated global conf; the plan crosses
    sessions via a global temp view and the checkpointed result (a plain
    LogicalRDD scan by then) is re-bound to the caller's session the same way.
    """
    src = ensure_parallelism(df)
    if banded is not None:
        # band-once seam (r7 VERDICT #3): the signature fold — the stage the
        # scoped no-codegen session exists for — is already materialized by
        # the caller, so candidates + verify run in the caller's session.
        cands = minhash_candidates(src, key, id_col, banded=banded).cache()
        out = jaccard_verify(src, cands, key, id_col, threshold=threshold)
        if not eager:
            return out
        ckpt = out.localCheckpoint(eager=True)
        cands.unpersist()
        return ckpt
    if not eager:
        # cache the (tiny) candidate frame: jaccard_verify references it three
        # times (id extraction ×2 + the verify join) — uncached that triples
        # the LSH banding stages. Lifecycle: lives until session end, bounded
        # by the candidate-pair count, and the eager path unpersists properly.
        cands = minhash_candidates(src, key, id_col).cache()
        return jaccard_verify(src, cands, key, id_col, threshold=threshold)
    holder: list[DataFrame] = []

    def _build(s):
        cands = minhash_candidates(s, key, id_col).cache()
        holder.append(cands)
        return jaccard_verify(s, cands, key, id_col, threshold=threshold)

    try:
        return _materialize_nocodegen(src, _build)
    finally:
        for c in holder:
            c.unpersist()


def ngram_jaccard_pairs(
    df: DataFrame,
    key: str = "text",
    id_col: str = "doc_id",
    n_shingle: int = 3,
    threshold: float = 0.8,
    mode: str = "auto",
) -> DataFrame:
    """n-gram Jaccard similarity join.

    ``mode="exact"`` is the brute-force quadratic self-join baseline;
    ``mode="minhash"`` routes to the banded-LSH candidates + exact-Jaccard
    verify (:func:`minhash_dedup_pairs` — full precision on reported pairs,
    sub-1 recall on bucketing). ``mode="auto"`` (default) picks by input size
    via :func:`analyst_toolkit_spark.llm.scale.pair_strategy`, keeping exact
    semantics while exact is affordable and the 100 TB shape beyond that.
    """
    if mode == "auto":
        from analyst_toolkit_spark.llm.scale import pair_strategy

        mode = "exact" if pair_strategy(df) == "exact" else "minhash"
    if mode == "minhash":
        return minhash_dedup_pairs(df, key=key, id_col=id_col, threshold=threshold)
    sh = df.select(F.col(id_col), shingles(key, n_shingle).alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("a.sh", "b.sh"))
                / F.greatest(F.size(F.array_union("a.sh", "b.sh")), F.lit(1)),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"), "jaccard")
    )


def simhash64(col: str | Column, method: str = "xxhash") -> Column:
    """64-bit SimHash: per-token hash, each bit votes +1/-1, sign → bit.
    Pure expression via aggregate over a 64-slot counter array; emitted as a
    64-char '0'/'1' string (bit index 0 first) — equality-comparable and
    avoids signed-long packing edge cases.

    ``method="xxhash"`` (default): bit i's vote = sign of ``xxhash64(t, i)``
    — 64 independent seeded hashes, fastest JVM path, engine-specific.
    ``method="md5"``: bit i's vote = bit i of the token's single md5 digest
    (hex digit i//4, bit 3-i%4) — ONE md5 per token, and the exact
    arithmetic reproduces in DuckDB/Trino SQL, which makes SimHash grouping
    oracle-checkable instead of rows-only."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.regexp_extract_all(F.lower(c), F.lit(r"[a-z0-9']+"), F.lit(0))
    bit_idx = F.sequence(F.lit(0), F.lit(63))
    if method == "md5":
        # ONE md5 per token (materialized into an array first — inlining
        # md5(t) inside the per-bit lambda re-evaluated the digest for every
        # bit, 64 digests/token; measured ~4x slower than this shape at
        # sf0.1), then the 64 votes decoded from the 16 hex digits through a
        # constant digit→(4 votes) lookup: vote i = bit 3-i%4 of digit i//4.
        lookup = F.expr(
            "array("
            + ",".join(
                "array(" + ",".join(("1L" if (d >> (3 - k)) & 1 else "-1L") for k in range(4)) + ")"
                for d in range(16)
            )
            + ")"
        )
        digests = F.transform(toks, lambda t: F.md5(t))
        per_token_votes = F.transform(
            digests,
            lambda h: F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.lit(16)),
                    lambda j: F.element_at(
                        lookup, F.conv(h.substr(j.cast("int"), F.lit(1)), 16, 10).cast("int") + 1
                    ),
                )
            ),
        )
        counters = F.aggregate(
            per_token_votes,
            F.transform(bit_idx, lambda i: F.lit(0).cast("long")),
            lambda acc, v: F.zip_with(acc, v, lambda x, y: x + y),
        )
    else:
        # avoids bit-shift-by-column, which Spark's shiftright doesn't support
        counters = F.aggregate(
            toks,
            F.transform(bit_idx, lambda i: F.lit(0).cast("long")),
            lambda acc, t: F.zip_with(
                acc,
                F.transform(
                    bit_idx,
                    lambda i: F.when(F.xxhash64(t, i) > 0, 1).otherwise(-1).cast("long"),
                ),
                lambda x, y: x + y,
            ),
        )
    return F.concat_ws("", F.transform(counters, lambda cnt: F.when(cnt > 0, "1").otherwise("0")))


def simhash_near_pairs(
    df: DataFrame,
    key: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    method: str = "xxhash",
    eager: bool = True,
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance ≤ ``max_hamming``.

    Pigeonhole banding: split the 64-bit signature into ``max_hamming + 1``
    segments — any pair within the distance budget must agree EXACTLY on at
    least one segment, so candidates come from equi-joins on (segment index,
    segment bits), never a full cross join. Verification packs the signature
    into two longs and computes ``bit_count(xor)`` — one JVM instruction pair
    per candidate. Output: id_a, id_b, hamming.

    ``eager`` (default True) localCheckpoints the banded signatures at call
    time — both self-join sides share that subtree and the cut avoids
    computing the signature fold twice (measured ~2x at sf0.1). Pass
    ``eager=False`` when composing a larger plan (matches
    ``minhash_dedup_pairs``'s contract): the call then runs only the
    repartition shuffle ``ensure_parallelism`` may add, and the fold runs
    and is stored at the first action.
    """
    # the signature fold is compute-bound — don't inherit file-count
    # partitioning (same reasoning as minhash_dedup_pairs:184-186)
    sig_df = ensure_parallelism(df).select(
        F.col(id_col), simhash64(F.col(key), method=method).alias("sig")
    )
    return hamming_near_pairs(sig_df, id_col=id_col, max_hamming=max_hamming, eager=eager)


def hamming_near_pairs(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    max_hamming: int = 3,
    eager: bool = True,
) -> DataFrame:
    """Near pairs among 64-bit signatures (as 64-char '0'/'1' strings) with
    hamming distance ≤ ``max_hamming`` — the pigeonhole banding + packed
    ``bit_count`` verify shared by text SimHash (``simhash_near_pairs``) and
    perceptual image hashes (multimodal.image_near_pairs, r10). Null
    signatures (undecodable blobs) are dropped before banding. See
    ``simhash_near_pairs`` for the plan-shape rationale."""
    bands = max_hamming + 1
    seg_len = 64 // bands
    sig_df = sig_df.filter(F.col(sig_col).isNotNull()).withColumnRenamed(sig_col, "sig")

    # pack the '0'/'1' signature into two longs for cheap hamming verify
    def _pack(start: int, length: int):
        bits = F.substring("sig", start, length)
        return F.aggregate(
            F.split(bits, "", -1),
            F.lit(0).cast("long"),
            lambda acc, ch: acc * 2 + F.when(ch == "1", 1).otherwise(0).cast("long"),
        )

    packed = sig_df.select(
        id_col, "sig", _pack(1, 32).alias("hi"), _pack(33, 32).alias("lo")
    )
    seg_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.substring("sig", b * seg_len + 1, seg_len if b < bands - 1 else 64 - b * seg_len).alias("bits"),
        )
        for b in range(bands)
    ]
    banded = packed.select(id_col, "hi", "lo", F.explode(F.array(*seg_structs)).alias("s")).select(
        id_col, "hi", "lo", "s.band", "s.bits"
    )
    # materialize the banded signatures before the self-join: both join sides
    # share this subtree, and without a cut Spark computes the signature fold
    # TWICE (once per side). The banded relation is tiny (rows x bands, a few
    # ints + a short string per row) — localCheckpoint is cheap and truncates
    # the lineage. Measured ~2x on the sf0.1 sweep.
    banded = banded.localCheckpoint(eager=eager)
    a = banded.alias("a")
    b = banded.alias("b")
    hamming = F.bit_count(F.col("a.hi").bitwiseXOR(F.col("b.hi"))) + F.bit_count(
        F.col("a.lo").bitwiseXOR(F.col("b.lo"))
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"), "hamming")
        .distinct()
    )


def simhash_dup_groups(
    df: DataFrame, key: str = "text", id_col: str = "doc_id", method: str = "xxhash"
) -> DataFrame:
    """Docs sharing an identical 64-bit SimHash (strong near-dup signal)."""
    return (
        ensure_parallelism(df).select(simhash64(F.col(key), method=method).alias("simhash"), F.col(id_col))
        .groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("cluster_size"), F.sort_array(F.collect_list(id_col)).alias("members"))
        .filter(F.col("cluster_size") > 1)
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Cluster resolution over a near-dup pair list: (node, component) where
    ``component`` is the smallest node id transitively reachable — the
    standard hash-to-min label propagation (Rastogi et al., "Finding
    Connected Components in MapReduce", ICDE'13 shape).

    The piece a real 100 TB dedup pipeline needs AFTER candidate pairs:
    MinHash/SimHash emit edges; keeping one doc per *component* (not per
    edge) is what actually dedups A~B~C into one survivor.

    Plan shape per iteration: neighbor propagation (labels onto symmetrized
    edges) PLUS pointer jumping (label-of-label via a labels self-join) into
    one min-agg — all shuffles on the node key, nothing quadratic, no
    driver-side graph. Pointer jumping halves label-chain depth each round,
    so convergence is O(log diameter) even on pathological path graphs, not
    O(diameter); near-dup graphs (near-cliques) finish in 2-3 rounds.
    Convergence = the global min-label sum stops falling (one cheap scalar
    agg per iteration; summed as decimal(38,0) so full-range 64-bit hash
    labels cannot overflow). A lineage cut (``sources.io.cut``) truncates the
    plan each round so lineage doesn't grow across iterations.

    Iterative-with-driver-loop is inherent to connected components (Spark
    has no native fixpoint operator); each iteration is fully distributed —
    the driver only compares two longs. An iteration is several jobs, not
    one: its cut runs the round's shuffle stages during the call, and the
    convergence sum runs two more. On a 41-node chain with the driver tier
    off, the seed took 6 jobs and the seven rounds 5, 5, 7, 7, 7, 7 and 7.

    ``checkpoint_dir`` swaps the executor-local ``localCheckpoint`` lineage
    cuts for durable parquet cuts (same option, same rationale as
    ``curate_corpus``): at 100 TB an executor loss mid-fixpoint restarts
    the WHOLE multi-iteration job under localCheckpoint, while the durable
    cut resumes from the last written iteration's files. Identical labels
    either way (asserted by test_dedup's durable twin).

    Retention (r7 VERDICT #5): label snapshots are full corpus-label sets —
    O(iterations × labels) durable storage if kept. After iteration N's
    write commits, iteration N-2's snapshot is deleted (last TWO kept: the
    current set plus one predecessor to resume from if N's files turn out
    truncated). Stale ``*_labels``/``*_edges`` children from a previous run
    in the same dir are cleared at entry (``mode=overwrite`` only replaces
    same-numbered paths, so a rerun converging sooner would otherwise leave
    the old run's higher-numbered snapshots behind). The dir should be
    dedicated to one fixpoint; sibling files with other names are untouched.
    """
    spark = pairs.sparkSession
    if checkpoint_dir:
        checkpoint_dir = checkpoint_dir.rstrip("/")
        S_io.remove(spark, f"{checkpoint_dir}/*_{{labels,edges}}")
    # durable cuts are numbered in order: 01_edges, 02_labels (the seed),
    # then one NN_labels per iteration
    seq = itertools.count(1)

    # r15 optimization round: both edge directions come from ONE evaluation
    # of the pairs subtree (explode of a 2-struct array) instead of the old
    # two-arm union, which evaluated the caller's — possibly expensive, still
    # lazy — pair plan once per arm (bucket_components' star-edge window and
    # lsh_bucketed_pairs' cosine verify both ran twice; exchange reuse only
    # dedups up to the last exchange inside the subtree). Identical row set,
    # so identical components.
    sym = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
                    F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst")),
                )
            ).alias("__e")
        )
        .select("__e.src", "__e.dst")
        .distinct()
    )
    edges_cache = None
    edge_count_obs = None
    if checkpoint_dir:
        edges = S_io.cut(sym, durable_dir=checkpoint_dir, name=f"{next(seq):02d}_edges")
    else:
        if CC_DRIVER_TIER_MAX_EDGES > 0:
            # r16 driver tier: the distinct-edge count rides the cache's
            # first materialization (the seed cut below) — zero extra
            # jobs to learn whether the graph is small enough to resolve
            # driver-side. See CC_DRIVER_TIER_MAX_EDGES.
            from pyspark.sql import Observation

            edge_count_obs = Observation()
            sym = sym.observe(edge_count_obs, F.count(F.lit(1)).alias("n_edges"))
        # repartition on the propagation key, then CACHE rather than
        # localCheckpoint: a checkpoint discards outputPartitioning
        # (verified empirically on 4.1) while InMemoryRelation preserves
        # it, so every iteration's prop join reads pre-partitioned edges
        # with NO exchange on the edge side — one edges-sized shuffle
        # (the O(docs x bands) side on the bucket path) saved per
        # iteration once labels outgrow broadcast. One extra build-time
        # shuffle buys that; lineage stays short (edges are built once).
        # (r15: no eager count() — the seeded-labels cut below is the first
        # to run this subtree and populates the cache.)
        edges = sym.repartition(F.col("dst")).cache()
        edges_cache = edges
    # r15 optimization round — SEEDED initial labels: starting from the
    # identity labeling, iteration 1's three-way union (identity ∪ neighbor
    # propagation ∪ identity pointer-jump) reduces algebraically to
    # min(node, min(dst over its edges)) — one groupBy on the same key the
    # old distinct-nodes build shuffled on. Seeding with that value skips
    # the whole first loop iteration (two joins + a 3-subtree union-agg +
    # a cut + a sum action) while producing bit-identical labels: the loop
    # now starts from the state the old iteration 1 ended in.
    labels = S_io.cut(
        edges.groupBy("src")
        .agg(F.min("dst").alias("__mindst"))
        .select(
            F.col("src").alias("node"),
            F.least(F.col("src"), F.col("__mindst")).alias("comp"),
        ),
        durable_dir=checkpoint_dir,
        name=f"{next(seq):02d}_labels",
    )
    # decimal(38,0) sum: node ids are caller-defined and may be full-range
    # 64-bit hashes (e.g. simhash-keyed pair lists), whose long sum
    # overflows under ANSI. String/binary node ids (found fixing the r8
    # string-id gate ADVICE: the ANSI cast CRASHED the fixpoint on them)
    # sum a 64-bit hash image instead — not monotone like the numeric sum,
    # but labels only ever decrease per node, so a changed labeling reads
    # as converged only on an aggregate hash collision (~2^-64/iteration).
    if dict(sym.dtypes)["src"] in ("string", "binary"):
        _label_sum = F.sum(F.xxhash64(F.col("comp")).cast("decimal(38,0)"))
    else:
        _label_sum = F.sum(F.col("comp").cast("decimal(38,0)"))
    prev_sum = labels.agg(_label_sum).first()[0]
    if prev_sum is None and not labels.take(1):
        # empty edge graph — nothing to resolve; also sidesteps the driver
        # tier's observation, which PropagateEmptyRelation elides from an
        # empty plan (its get would fail rather than report zero).
        if edges_cache is not None:
            edges_cache.unpersist()
        return labels.select(F.col("node"), F.col("comp").alias("component"))
    if edge_count_obs is not None:
        # the seed action above materialized the edge cache, so the
        # observation is settled; a bounded graph finishes driver-side in
        # one collect OF THE CACHE (no recompute of the caller's pair
        # subtree) and the labels return as a broadcastable local relation.
        n_edges = int(edge_count_obs.get["n_edges"] or 0)
        if n_edges <= CC_DRIVER_TIER_MAX_EDGES:
            from pyspark.sql.types import StructField, StructType

            rows = edges.collect()
            edges_cache.unpersist()
            node_t = sym.schema["src"].dataType
            schema = StructType(
                [
                    StructField("node", node_t, True),
                    StructField("component", node_t, True),
                ]
            )
            # broadcast hint (guide §3): the labels are a local relation
            # whose size estimate is rows x the columns' default widths, so
            # near the cap (<= 2x CC_DRIVER_TIER_MAX_EDGES rows) it can pass
            # spark.sql.autoBroadcastJoinThreshold (400k string-id rows
            # estimate 19 MB, long ids 9.6 MB), and without the hint Spark
            # plans downstream label joins as SMJ and shuffles BOTH sides —
            # including the caller's corpus-scale frame. The tier just PROVED the relation
            # is bounded (a few MB), so the hint is data-size-gated by
            # construction, never a blind constant.
            return F.broadcast(S_io.local_frame(spark, _union_find_labels(rows), schema))
    converged = False
    for _ in range(max_iter):
        prop = edges.join(labels, edges["dst"] == labels["node"], "inner").select(
            edges["src"].alias("node"), F.col("comp")
        )
        l2 = labels.select(F.col("node").alias("j_node"), F.col("comp").alias("j_comp"))
        jump = labels.join(l2, labels["comp"] == l2["j_node"], "inner").select(
            labels["node"], l2["j_comp"].alias("comp")
        )
        n = next(seq)
        labels = S_io.cut(
            labels.unionAll(prop).unionAll(jump).groupBy("node").agg(F.min("comp").alias("comp")),
            durable_dir=checkpoint_dir,
            name=f"{n:02d}_labels",
        )
        if checkpoint_dir:
            # retention: keep this snapshot and its predecessor (number 01
            # is the edges cut, so the first round deletes nothing)
            S_io.remove(spark, f"{checkpoint_dir}/{n - 2:02d}_labels")
        cur_sum = labels.agg(_label_sum).first()[0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components: not converged after {max_iter} iterations; "
            "labels are an upper bound on true components", stacklevel=2
        )
    if edges_cache is not None:
        # final labels are checkpointed — nothing downstream re-reads edges
        edges_cache.unpersist()
    return labels.select(F.col("node"), F.col("comp").alias("component"))


def bucket_components(
    df: DataFrame,
    key: str = "text",
    id_col: str = "doc_id",
    n_shingle: int = 3,
    k: int = 64,
    bands: int = 16,
    max_iter: int = 25,
    method: str = "xxhash",
    checkpoint_dir: str | None = None,
    banded: DataFrame | None = None,
) -> DataFrame:
    """LINEAR near-dup clustering for extremely duplicated corpora:
    connected components over per-bucket STAR edges (every member → its
    bucket's minimum doc id) instead of the doc-doc pair graph. A w-way
    duplicate cluster contributes w x bands edges here versus C(w,2)
    materialized pairs on the verified path — the 100x sweep measured
    ``minhash_dedup_pairs`` at 159.6 s on a corpus where EVERY doc sits in
    a 100-way cluster, purely from ~25M pairs of output; this path stays
    O(docs x bands).

    (r8: was doc-bucket BIPARTITE edges with synthetic bucket nodes — the
    star form keeps the identical connectivity relation, so components are
    unchanged, while halving the node count AND the propagation distance
    (doc→bucket→doc hops become doc→rep), dropping the bit-twiddled node
    namespaces, and making the post-CC relabel a no-op: hash-to-min's
    component label over all-doc nodes IS the smallest reachable doc id.)

    Tradeoff, stated plainly: NO Jaccard verification — any single band
    collision links two docs, so precision is candidate-level (the LSH
    S-curve's false-positive arm is accepted, not filtered). Use as the
    first-pass mass-dedup at crawl-scale duplication, optionally verifying
    WITHIN each emitted cluster afterwards; use ``minhash_dedup_pairs`` +
    ``connected_components`` when per-pair precision matters.

    Returns (node, component) like :func:`connected_components`: every doc
    that shares at least one bucket with another doc, labeled by the
    smallest reachable doc id. Requires integer-castable doc ids.
    """
    # drop shingle-less docs (shorter than n_shingle tokens): they all share
    # the all-max sentinel signature and would fuse into one bogus
    # mega-cluster — the pair path survives this via its bucket cap +
    # Jaccard verify, but this path has neither by design. Dropped AFTER
    # banding by one literal comparison against the constant sentinel band
    # hash (generator-output filters cannot push below the explode, so
    # nothing re-evaluates; the old size(shingles)>0 pre-filter re-tokenized
    # every row — the expression-duplication trap). A caller-provided
    # ``banded`` stream (the band-once seam) must arrive sentinel-free —
    # near_dedup_components does the same drop.
    if banded is None:
        sent = sentinel_band_hash(df.sparkSession, k, bands, method)
        banded = _band_stream(df, key, id_col, n_shingle, k, bands, method=method).filter(
            F.col("band_hash") != F.lit(sent)
        )
    # star edges: every bucket member → the bucket's min doc id. Singleton
    # buckets self-edge (member == min) and are filtered — the old explicit
    # ">= 2 members" semi-join falls out for free. Duplicate edges across
    # bands are collapsed by connected_components' own edge distinct.
    #
    # r15 evaluated the banding (the MinHash signature fold, the dominant
    # map-side cost) ONCE by riding the per-bucket min on a window over
    # __bkt — but a window ships EVERY member of a bucket to one task with
    # no partial aggregation, and this operator is specifically the path
    # for extremely duplicated corpora, where a crawl-scale boilerplate
    # bucket with millions of members becomes a straggler/spill task (AQE
    # skew handling splits joins, not windows — r15 VERDICT #1). r16: keep
    # the single banding evaluation via a NARROW lineage cut on (id, bucket)
    # — 16 bytes/row, the same bytes the window's exchange already shipped,
    # never the text — and restore the map-side-combined groupBy min +
    # join-back over the cut: hot buckets partial-aggregate in the map
    # stage, and the attach join is splittable by AQE's skew handler. With
    # ``checkpoint_dir`` the cut is a durable parquet round-trip so the
    # executor-loss resume story of the downstream fixpoint is preserved.
    bucket_key = F.xxhash64(F.col("band").cast("string"), F.col("band_hash").cast("string"))
    tagged = banded.select(
        F.col(id_col).cast("long").alias("__id"), bucket_key.alias("__bkt")
    )
    tagged = S_io.cut(tagged, durable_dir=checkpoint_dir, name="00_bucket_tagged")
    mins = tagged.groupBy("__bkt").agg(F.min("__id").alias("__rep"))
    edges = (
        tagged.join(mins, "__bkt")
        .filter(F.col("__id") != F.col("__rep"))
        .select(F.col("__id").alias("id_a"), F.col("__rep").alias("id_b"))
    )
    return connected_components(
        edges, max_iter=max_iter, checkpoint_dir=checkpoint_dir
    ).select(F.col("node"), F.col("component"))


def verify_components(
    df: DataFrame,
    components: DataFrame,
    key: str = "text",
    id_col: str = "doc_id",
    n_shingle: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Precision repair for :func:`bucket_components` — LINEAR in docs, not
    pairs: every clustered member is Jaccard-verified against its cluster
    REPRESENTATIVE (the component id) only. Members below ``threshold``
    leave the cluster and become singletons (component = their own id —
    conservative: a false split keeps a duplicate, a false merge loses a
    document). One member-vs-representative comparison per doc replaces
    C(w,2) pair checks, so the whole bucket->verify pipeline stays
    O(docs x bands).

    Exactness caveat, stated plainly: star-verification against the
    representative can split a genuine A~B edge when neither resembles the
    representative enough (transitive chains); the pair path
    (minhash_dedup_pairs + connected_components) remains the exact-semantics
    tool when that matters.

    Returns (node, component) with the same contract as
    :func:`connected_components`, minus members that failed verification
    against their representative (they map to themselves)."""
    # shingle ONLY docs that appear in a cluster (members ∪ representatives):
    # at corpus scale the clustered slice is a sliver of the input, and
    # without the semi-join the shingle pass runs over everything just to be
    # thrown away by the member join (same pruning as jaccard_verify). The
    # id set derives from the (checkpointed) component labels — label-sized,
    # no hint, AQE picks the join strategy.
    ids = (
        components.select(F.col("node").alias(id_col))
        .union(components.select(F.col("component").alias(id_col)))
        .distinct()
    )
    sub = df.join(ids, id_col, "left_semi")
    # r15 optimization round: sh feeds the member join AND the representative
    # join — without a cut each evaluates the scan + semi-join + shingle
    # tokenization independently (the jaccard_verify two-sides shape). The
    # cut is cluster-sized (members ∪ representatives), never corpus-wide.
    sh = sub.select(F.col(id_col), shingles(key, n_shingle).alias("__sh")).localCheckpoint(
        eager=False
    )
    member = components.join(sh, components["node"] == sh[id_col]).select(
        "node", "component", F.col("__sh").alias("__m_sh")
    )
    rep_sh = sh.select(F.col(id_col).alias("__rep_id"), F.col("__sh").alias("__r_sh"))
    joined = member.join(rep_sh, member["component"] == rep_sh["__rep_id"])
    inter = F.size(F.array_intersect("__m_sh", "__r_sh"))
    union = F.size(F.array_union("__m_sh", "__r_sh"))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(1.0))
    return joined.select(
        "node",
        F.when((F.col("node") == F.col("component")) | (jac >= threshold), F.col("component"))
        .otherwise(F.col("node"))
        .alias("component"),
    )


def _positioned_ngrams_of(toks: Column, n: int) -> Column:
    """Word n-grams of an ALREADY-TOKENIZED array column, indexed by their
    token start position (``grams[i]`` starts at token i): the shifted
    slices of :func:`shingles` WITHOUT ``array_distinct`` — span detection
    needs every occurrence. The span operators tokenize ONCE and derive
    both the gram stream and the cut stage from the same token arrays
    (r15 optimization round)."""
    g = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    parts = [F.slice(toks, i + 1, g) for i in range(n)]
    grams = parts[0]
    for p in parts[1:]:
        grams = F.zip_with(grams, p, lambda a, b: F.concat(a, F.lit(" "), b))
    return grams


def _tokens_frame(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, __toks) projection — the one tokenize pass shared by the span
    operators' gram stream and token-surgery stages (bit-identical to the
    tokenizer each stage previously ran for itself)."""
    toks = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit(r"[a-z0-9']+"), F.lit(0)
    )
    return df.select(F.col(id_col), toks.alias("__toks"))


def _positioned_gram_hashes(tdf: DataFrame, id_col: str, n: int) -> DataFrame:
    """(id, pos, gram-hash) stream from a (id, __toks) frame."""
    grams = _positioned_ngrams_of(F.col("__toks"), n)
    return tdf.select(
        F.col(id_col), F.posexplode(grams).alias("pos", "__gram")
    ).select(id_col, "pos", F.xxhash64("__gram").alias("__gh"))


def repeated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 20,
    min_docs: int = 2,
) -> DataFrame:
    """MAXIMAL cross-document repeated token spans per document — the
    exact-substring dedup mode of Lee et al., "Deduplicating Training Data
    Makes Language Models Better" (arXiv:2107.06499), re-expressed for Spark
    at token (not byte) granularity. Their suffix array is a single-machine
    structure; the distributed equivalent is:

      1. positioned n-grams (map-side shifted slices, no shuffle);
      2. gram -> 64-bit hash, groupBy hash HAVING countDistinct(doc) >=
         min_docs — ONE shuffle on the hash key; only grams that actually
         repeat across documents survive (the candidate bound: output-sized,
         never all-pairs);
      3. semi-join the positioned stream against the surviving hashes (keyed
         shuffle, AQE-broadcastable when the dup set is small);
      4. islands merge per document: overlapping/adjacent hits (gap <= n)
         fuse into maximal spans via lag + running sum over a window
         PARTITIONED BY doc — per-doc state only, no global order.

    Grouping on xxhash64(gram) instead of the gram string cuts shuffle bytes
    ~10x at 100 TB; a 64-bit collision mislabels one gram pair in ~2^32
    gram-pairs-per-bucket (negligible; the DuckDB oracle groups the raw gram
    string and agrees at test scale).

    Returns one row per maximal span: (id, start_tok, end_tok, span_tokens),
    token indices 0-based inclusive.
    """
    from analyst_toolkit_spark.functions.stats import plan_size_bytes

    tdf = _tokens_frame(df, id_col, text_col)
    return _repeated_spans_from_tokens(
        tdf, id_col, n, min_docs, size_hint=plan_size_bytes(df)
    )


def _repeated_spans_from_tokens(
    tdf: DataFrame, id_col: str, n: int, min_docs: int, size_hint: int
) -> DataFrame:
    """:func:`repeated_spans` over a pre-built (id, __toks) frame (shared
    with the removal half so the corpus tokenizes once)."""
    gdf = _positioned_gram_hashes(tdf, id_col, n)
    # r15 optimization round: the census and the hit semi-join both consume
    # the positioned gram stream — without a cut each re-derives it from the
    # raw text (tokenize + n shifted slices + zip-concat + hash, the
    # dominant map cost; measured 4.3 s -> 2.8 s at sf0.1 with the cut,
    # identical spans). The cut is SIZE-GATED: the stream is ~20 bytes per
    # gram OCCURRENCE (several times the text bytes), so materializing it
    # for a 100 TB corpus would trade one CPU pass for hundreds of TB of
    # executor-local spill — above the gate (or when the optimizer has no
    # size estimate) the recompute form stands. Data-size adaptive, not a
    # local[32] tune.
    if 0 <= size_hint <= SPAN_GRAM_CUT_MAX_INPUT_BYTES:
        gdf = gdf.localCheckpoint(eager=False)
    dup = (
        gdf.groupBy("__gh")
        .agg(F.countDistinct(F.col(id_col)).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__gh")
    )
    hits = gdf.join(dup, "__gh", "left_semi").select(id_col, "pos")
    return _span_islands(hits, id_col, n)


def _span_islands(hits: DataFrame, id_col: str, n: int) -> DataFrame:
    """Maximal spans from (id, pos) n-gram hit positions: overlapping or
    adjacent hits (gap <= n) fuse via lag + running sum over a window
    PARTITIONED BY the doc id — per-doc state only, no global order. Shared
    by the cross-doc repeat finder and the benchmark decontaminator."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    # all hits are n tokens long: hit at p2 overlaps/abuts the previous span
    # iff p2 - p1 <= n, so lag alone suffices (no running-max needed)
    brk = F.when(F.col("pos") - F.lag("pos").over(w) <= n, F.lit(0)).otherwise(F.lit(1))
    gid = F.sum("__brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    spans = (
        hits.withColumn("__brk", brk)
        .withColumn("__gid", gid)
        .groupBy(id_col, "__gid")
        .agg(
            F.min("pos").alias("start_tok"),
            (F.max("pos") + F.lit(n - 1)).cast("int").alias("end_tok"),
        )
    )
    return spans.select(
        id_col,
        F.col("start_tok").cast("int").alias("start_tok"),
        "end_tok",
        (F.col("end_tok") - F.col("start_tok") + 1).alias("span_tokens"),
    )


def repeated_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 20,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document rollup of :func:`repeated_spans`: how much of each doc is
    cross-document boilerplate (the remove-or-keep signal a curation pass
    thresholds on). Only documents containing at least one repeated span
    appear. Columns: (id, n_spans, dup_tokens, longest_span)."""
    spans = repeated_spans(df, id_col=id_col, text_col=text_col, n=n, min_docs=min_docs)
    return spans.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("span_tokens").cast("long").alias("dup_tokens"),
        F.max("span_tokens").cast("int").alias("longest_span"),
    )


def remove_repeated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 20,
    min_docs: int = 2,
) -> DataFrame:
    """The REMOVAL half of exact-substring dedup: cut every cross-document
    repeated span (:func:`repeated_spans`) out of every document, returning
    one row per input doc with the cleaned token text.

    Policy: ALL occurrences are cut (Lee et al. keep one global occurrence;
    electing a canonical copy per span cluster costs an extra global
    election shuffle — callers who need keep-one semantics should dedup at
    document granularity first, then span-cut the survivors). Output text is
    the retained TOKENS joined by single spaces (token-level surgery;
    byte-exact splicing would need char offsets, which the tokenizer
    deliberately discards).

    Plan: spans are output-sized; they aggregate per doc (collect_list of
    ranges — bounded by doc length / n) and join back once; the cut itself
    is a map-side higher-order ``filter((tok, i) -> no span contains i)``.
    Columns: (id, clean_text, kept_tokens, removed_tokens).

    r15 optimization round: the detection gram stream and the token surgery
    previously each ran the regex tokenizer over the corpus; one (id, __toks)
    frame — size-gated ``localCheckpoint(eager=False)`` cut, token arrays ≈
    the text bytes again, the same spill math as the gram-stream cut — now
    feeds both, so the corpus
    tokenizes ONCE below the gate (above it the recompute form stands).
    """
    from analyst_toolkit_spark.functions.stats import plan_size_bytes

    size = plan_size_bytes(df)
    tdf = _tokens_frame(df, id_col, text_col)
    # r15 ADVICE: below the gate this call persists TWO executor-local cuts
    # concurrently (these token arrays ≈ the text bytes, plus the gram-hash
    # stream _repeated_spans_from_tokens cuts at the full constant), so the
    # token cut gates at HALF the constant — total persisted state stays
    # bounded by ~the constant instead of silently doubling near its ceiling.
    if 0 <= size <= SPAN_GRAM_CUT_MAX_INPUT_BYTES // 2:
        tdf = tdf.localCheckpoint(eager=False)
    spans = _repeated_spans_from_tokens(tdf, id_col, n, min_docs, size_hint=size)
    return _cut_spans_from_tokens(tdf, spans, id_col)


def _cut_spans_from_tokens(
    tdf: DataFrame, spans: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Cut (start_tok, end_tok) spans out of every document's token stream:
    spans aggregate per doc (collect_list of ranges — bounded by doc
    length / n), join back once, and the cut is a map-side higher-order
    ``filter((tok, i) -> no span contains i)``. Shared removal half of
    exact-substring dedup AND span-level decontamination; takes the shared
    (id, __toks) frame so the corpus tokenizes once per remove call.
    Columns: (id, clean_text, kept_tokens, removed_tokens)."""
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("start_tok", "end_tok")).alias("__spans")
    )
    # coalesce: NULL text tokenizes to a NULL array, which would otherwise
    # flow into size() (−1 on NULL) and poison the token arithmetic
    toks = F.coalesce(F.col("__toks"), F.array().cast("array<string>"))
    # project tokens BEFORE the filter lambda: a compound expression inside a
    # higher-order function is re-evaluated per element (llm/lm._ngrams_of)
    base = tdf.select(F.col(id_col), toks.alias("__toks")).join(per_doc, id_col, "left")
    in_span = lambda tok, i: F.exists(  # noqa: E731
        F.col("__spans"),
        lambda s: (i >= s["start_tok"]) & (i <= s["end_tok"]),
    )
    kept = F.when(
        F.col("__spans").isNull(), F.col("__toks")
    ).otherwise(F.filter("__toks", lambda tok, i: ~in_span(tok, i)))
    out = base.select(F.col(id_col), F.col("__toks"), kept.alias("__kept"))
    return out.select(
        F.col(id_col),
        F.array_join("__kept", " ").alias("clean_text"),
        F.size("__kept").alias("kept_tokens"),
        (F.size("__toks") - F.size("__kept")).alias("removed_tokens"),
    )


def _contaminated_spans_from_tokens(
    tdf: DataFrame, benchmark: DataFrame, id_col: str, bench_key: str, n: int
) -> DataFrame:
    """SPAN-LEVEL decontamination, detection half: the maximal token spans
    of each document in a pre-built (id, __toks) frame covered by n-grams
    that appear ANYWHERE in the benchmark set. Benchmark grams hash to a
    64-bit key set built once (benchmark-sized); the doc side is the same
    positioned-gram stream as :func:`repeated_spans`, semi-joined against
    the key set (AQE broadcasts a small benchmark, falls back to a keyed
    shuffle for a huge one — no hint), then the shared islands merge fuses
    hits into maximal spans per doc. Returns (id, start_tok, end_tok,
    span_tokens)."""
    bench_grams = (
        benchmark.select(F.explode(shingles(bench_key, n)).alias("__g"))
        .select(F.xxhash64("__g").alias("__gh"))
        .distinct()
    )
    gdf = _positioned_gram_hashes(tdf, id_col, n)
    hits = gdf.join(bench_grams, "__gh", "left_semi").select(id_col, "pos")
    return _span_islands(hits, id_col, n)


def remove_contaminated_spans(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_key: str = "text",
    n: int = 8,
) -> DataFrame:
    """The removal half of span-level decontamination: cut every
    benchmark-overlapping span (:func:`_contaminated_spans_from_tokens`)
    out of every document, keeping the untainted remainder — doc-level
    dropping throws away a whole document for one quoted benchmark passage
    (``text.decontaminate``'s answer); this keeps the other 99%, GPT-3
    appendix-C style masking at token granularity. Same output contract as
    :func:`remove_repeated_spans`: (id, clean_text, kept_tokens,
    removed_tokens), token-level surgery.

    r15 optimization round: one size-gated (id, __toks) cut feeds both the
    detection gram stream and the token surgery — the corpus tokenizes once
    per call below the gate (see :func:`remove_repeated_spans`)."""
    from analyst_toolkit_spark.functions.stats import plan_size_bytes

    size = plan_size_bytes(df)
    tdf = _tokens_frame(df, id_col, text_col)
    if 0 <= size <= SPAN_GRAM_CUT_MAX_INPUT_BYTES:
        tdf = tdf.localCheckpoint(eager=False)
    spans = _contaminated_spans_from_tokens(tdf, benchmark, id_col, bench_key, n)
    return _cut_spans_from_tokens(tdf, spans, id_col)


def dedup_representatives(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Keep one representative per near-dup component (the smallest id),
    plus every document that appears in no pair. The end-to-end dedup shape:
    candidate pairs (MinHash/SimHash/embedding LSH) → connected components →
    one anti-join. Never materializes clusters driver-side."""
    cc = connected_components(pairs, id_a=id_a, id_b=id_b)
    drop = cc.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


#: Above this estimated LSH candidate-pair volume, the "auto" near-dedup
#: path abandons pair materialization (output-bound: the r6 100×-duplication
#: sweep measured 159.6 s for ~25M pairs on a 500k-doc corpus) for the
#: linear bucket-components + star-verify path (63.7 s on the same corpus).
NEARDUP_PAIR_CAP = 5_000_000


def near_dedup_components(
    df: DataFrame,
    key: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    n_shingle: int = 3,
    k: int = 64,
    bands: int = 16,
    method: str = "xxhash",
    pair_cap: int | None = None,
    checkpoint_dir: str | None = None,
) -> tuple[DataFrame, str]:
    """Near-dup clustering with an AUTOMATIC strategy gate (r6 VERDICT
    directive #5): returns ``(components, strategy)`` where components is the
    (node, component) mapping and strategy names the path taken.

    Below ``pair_cap`` estimated candidates: the exact-semantics path —
    ``minhash_dedup_pairs`` (Jaccard-verified pairs) → connected components.
    Above it: ``bucket_components`` + ``verify_components`` (star
    verification against each cluster representative) — linear in
    docs × bands where the pair path is output-bound in C(w,2). The r6 100×
    sweep measured the crossover concretely (159.6 s pairs vs 63.7 s
    buckets on a 500k-doc all-duplicated corpus); choosing between them was
    a docstring instruction until this gate. The bucket path requires
    integer-castable doc ids (star edges live in the long doc-id space).

    Bands ONCE (r7 VERDICT #3 — the census double-scan was the r7
    curate_chain regression, +44% at sf0.1): the (id, band, band_hash)
    stream is materialized a single time (``localCheckpoint``, or a durable
    parquet cut under ``checkpoint_dir``), the census reads that cut, and
    the SAME cut feeds whichever path wins — signature computation, the
    dominant cost of near-dedup at corpus scale, is paid exactly once.
    The stream is UNFILTERED (bit-identical to the pair path's own
    banding): shingle-less docs ride along as all-max sentinel signatures —
    capped/Jaccard-verified away on the pair path exactly as before, and
    dropped for the bucket path by one literal comparison against the
    precomputed :func:`sentinel_band_hash` (a pre-filter on
    ``size(shingles(..))`` re-tokenizes every row — the
    expression-duplication trap).

    Non-integral id columns always take the pair path (r8 ADVICE): the
    bucket path's star edges live in the long doc-id space — casting a
    string id would silently null it and corrupt every downstream key —
    while the pair path's ``connected_components`` is id-type-agnostic.
    Correct-over-fast: such a corpus past the cap runs the output-bound
    pair path rather than producing wrong clusters."""
    cap = NEARDUP_PAIR_CAP if pair_cap is None else pair_cap
    id_integral = dict(df.dtypes)[id_col] in ("tinyint", "smallint", "int", "bigint")
    spark = df.sparkSession
    src = ensure_parallelism(df)

    def _build(s):
        return _band_stream(s, key, id_col, n_shingle, k, bands, method=method)

    if checkpoint_dir:
        # durable cut: parquet round-trip, resumable after executor loss
        banded = _materialize_nocodegen(src, _build, checkpoint_dir)
        cleanup = None
    else:
        # cache, not localCheckpoint: the census action below is the pass
        # that POPULATES the cache, so banding + census fuse into one job
        # (a separate materialization job measured +~1 s at sf0.1); both
        # paths consume the stream eagerly before return, after which the
        # cache is dropped.
        banded = _build(src).cache()
        cleanup = banded
    # ONE bucket-size shuffle shared by the census AND the chosen path: the
    # census is an agg over it, and the winning path semi-joins the banded
    # stream against the qualifying bucket keys — singleton buckets (the
    # vast majority at low duplication) are dropped BEFORE the expensive
    # members/mins shuffle. No hint: AQE broadcasts the key set when it is
    # small and falls back to a co-partitioned join when it is not.
    sizes = (
        banded.groupBy("band", "band_hash")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .cache()
    )
    try:
        row = (
            sizes.filter(F.col("__n") <= MAX_BUCKET)
            .agg(F.sum((F.col("__n") * (F.col("__n") - 1) / 2).cast("long")).alias("c"))
            .first()
        )
        est = int(row["c"] or 0)
        if est > cap and id_integral:
            sent = sentinel_band_hash(spark, k, bands, method)
            banded_bkt = banded.filter(F.col("band_hash") != F.lit(sent)).join(
                sizes.select("band", "band_hash"), ["band", "band_hash"], "left_semi"
            )
            comps = bucket_components(
                df, key=key, id_col=id_col, n_shingle=n_shingle, k=k, bands=bands,
                method=method, checkpoint_dir=checkpoint_dir, banded=banded_bkt,
            )
            comps = verify_components(
                df, comps, key=key, id_col=id_col, n_shingle=n_shingle,
                threshold=threshold,
            )
            return (
                _assert_banded_detached(comps, src_columns=df.columns, checkpoint_dir=checkpoint_dir),
                "bucket_components+star_verify",
            )
        qual = sizes.filter(F.col("__n") <= MAX_BUCKET).select("band", "band_hash")
        pairs = minhash_dedup_pairs(
            src, key=key, id_col=id_col, threshold=threshold,
            banded=banded.join(qual, ["band", "band_hash"], "left_semi"),
        )
        return (
            _assert_banded_detached(
                connected_components(pairs, checkpoint_dir=checkpoint_dir),
                src_columns=df.columns, checkpoint_dir=checkpoint_dir,
            ),
            "minhash_pairs+components",
        )
    finally:
        sizes.unpersist()
        if cleanup is not None:
            cleanup.unpersist()


def _assert_banded_detached(
    comps: DataFrame, *, src_columns=(), checkpoint_dir: str | None = None
) -> DataFrame:
    """Structural cache contract for :func:`near_dedup_components` (r8
    VERDICT): the banded cache is unpersisted in the ``finally`` on return,
    so the frame handed back must NOT reference it — a caller that defers
    materialization would otherwise silently recompute the whole banding
    pass. Both paths end in a connected-components fixpoint whose output is
    an eagerly-materialized cut (localCheckpoint / parquet), and the bucket
    path's lazy verify tail re-reads only the raw corpus — so ``band_hash``
    appearing ANYWHERE in the optimized plan means banded lineage leaked.
    One plan stringification; no action triggered.

    r9 ADVICE: the marker is a substring match over plan text, so a USER
    schema containing a column literally named band_hash (or a checkpoint
    path containing the string) would false-trip it on a correct result —
    in that case the structural check is skipped rather than risking a
    spurious AssertionError; the contract is still exercised on every
    collision-free corpus (including all tests)."""
    if "band_hash" in set(src_columns) or (checkpoint_dir and "band_hash" in checkpoint_dir):
        return comps
    plan = comps._jdf.queryExecution().optimizedPlan().toString()
    if "band_hash" in plan:
        raise AssertionError(
            "near_dedup_components returned a plan that still references the "
            "banded stream; materialize it before the cache is unpersisted"
        )
    return comps


def cluster_size_histogram(components: DataFrame) -> DataFrame:
    """Duplication profile: how many near-dup clusters exist at each size —
    the distribution that DECIDES dedup strategy (the pair path's output is
    Σ C(size, 2) over exactly this histogram; the auto-gate's census
    estimates that mass). Two tiny keyed aggregations over the
    (node, component) mapping, both map-side combined; output is
    max-cluster-size rows. Columns: (cluster_size, clusters)."""
    sizes = components.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("clusters"))
        .orderBy("cluster_size")
    )


def dedup_representatives_by(
    df: DataFrame,
    components: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep the BEST-scoring member per near-dup component (highest
    ``score_col``, ties broken by smallest id — deterministic), plus every
    unclustered doc. Production pipelines rarely want min-id survivors:
    when a cluster holds one clean page and nine boilerplate-mangled
    copies, the keeper should be the clean one, so pass a quality score
    (``text.quality_score``, the trained classifier margin, a charlm
    probability, …).

    ``components`` is any (node, component) mapping
    (:func:`connected_components`, :func:`bucket_components`,
    :func:`near_dedup_components`). Plan: one component-keyed
    ``max_by``-style aggregate (struct-max: score asc, then NEGATED id so
    ties pick the smallest — one shuffle on component, map-side combined),
    then the corpus joined against winners ∪ unclustered. Nothing
    driver-side, nothing quadratic. Ids must be unique in ``df`` (the
    (node, component) mapping already assumes that).

    The score projection is evaluated ONCE (r15 optimization round, guide
    §1.2): callers pass computed expressions (``quality_score``'s regex
    stack, a classifier margin, a charlm logprob), and the old semi-join
    tail re-evaluated that expression over every SURVIVING row after the
    winner election had already evaluated it over the whole corpus. A
    narrow lineage-cut (id, score) frame — ~16 bytes/row, never the
    payload — now feeds the election, the unclustered anti-join, AND the
    returned rows' score column; the attach join replaces the old
    membership semi-join one-for-one (same key, same shuffle shape)."""
    idt = dict(df.dtypes)[id_col]
    scores = df.select(
        F.col(id_col).alias("__mid"), F.col(score_col).alias("__s")
    ).localCheckpoint(eager=False)
    member = components.join(
        scores, components["node"].cast(idt) == F.col("__mid")
    )
    # struct max = lexicographic (score, -id): highest score, then least id.
    # Negation needs a numeric id; string ids would need a different
    # tie-break — the long cast mirrors bucket_components' contract.
    winner = member.groupBy("component").agg(
        F.max(
            F.struct(F.col("__s"), (-F.col("node").cast("long")).alias("__negid"))
        ).alias("__w")
    ).select((-F.col("__w.__negid")).cast(idt).alias("__mid"))
    clustered = components.select(F.col("node").cast(idt).alias("__mid"))
    unclustered = scores.select("__mid").join(clustered, "__mid", "left_anti")
    keep = winner.unionByName(unclustered)
    kept = scores.join(keep, "__mid", "left_semi")
    out = df.drop(score_col).join(
        kept.select(F.col("__mid").alias(id_col), F.col("__s").alias(score_col)),
        id_col,
        "inner",
    )
    return out.select(*df.columns)


def dedup_from_components(
    df: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
    score_col: str | None = None,
) -> DataFrame:
    """Survivor election over an ALREADY-COMPUTED (node, component) mapping:
    the min-id member per component (``component`` IS the min reachable id
    under hash-to-min, so survivors are the nodes labeled by themselves —
    one anti-join, no aggregate), or the best-``score_col`` member via
    :func:`dedup_representatives_by`. The shared tail of
    :func:`dedup_representatives_auto` and ``curate_corpus``'s
    deterministic ``near_dedup_engine="md5_buckets"`` path.

    Ids must be UNIQUE in ``df`` (r15 ADVICE): the score path's attach join
    would multiply duplicate ids instead of preserving them one-for-one —
    the (node, component) mapping already assumes id-keyed rows."""
    if score_col is not None:
        return dedup_representatives_by(df, components, score_col, id_col=id_col)
    drop = components.filter(F.col("node") != F.col("component")).select(
        F.col("node").cast(dict(df.dtypes)[id_col]).alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


def dedup_representatives_auto(
    df: DataFrame,
    key: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    pair_cap: int | None = None,
    checkpoint_dir: str | None = None,
    score_col: str | None = None,
) -> tuple[DataFrame, str]:
    """``dedup_representatives`` with the candidate-volume gate of
    :func:`near_dedup_components`: keeps one representative per component
    plus all unclustered docs, switching to the linear bucket path when the
    pair path would be output-bound. With ``score_col`` the survivor is the
    HIGHEST-scoring member (:func:`dedup_representatives_by` — ties to
    smallest id); default is the smallest id. Returns ``(deduped, strategy)``."""
    comps, strategy = near_dedup_components(
        df, key=key, id_col=id_col, threshold=threshold,
        pair_cap=pair_cap, checkpoint_dir=checkpoint_dir,
    )
    return dedup_from_components(df, comps, id_col=id_col, score_col=score_col), strategy


def containment_pairs(
    df: DataFrame,
    key: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    threshold: float = 0.5,
    max_gram_docs: int | None = None,
    pair_cap: int | None = None,
) -> DataFrame:
    """Public 4-column surface over :func:`_containment_pairs_sized` —
    see that docstring for semantics and the 100 TB plan. Output:
    (id_a, id_b, shared_grams, containment), both directions."""
    return _containment_pairs_sized(
        df, key=key, id_col=id_col, n=n, threshold=threshold,
        max_gram_docs=max_gram_docs, pair_cap=pair_cap,
    ).select("id_a", "id_b", "shared_grams", "containment")


def _containment_pairs_sized(
    df: DataFrame,
    key: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    threshold: float = 0.5,
    max_gram_docs: int | None = None,
    pair_cap: int | None = None,
) -> DataFrame:
    """ASYMMETRIC containment join (Broder, "On the resemblance and
    containment of documents", SEQUENCES'97): for each ordered pair (a, b),
    ``containment = |G(a) ∩ G(b)| / |G(a)|`` over distinct token ``n``-grams
    — near 1.0 when document a is (mostly) CONTAINED in b, the quote /
    partial-copy / page-superset signal that symmetric Jaccard dilutes away
    (a 100-word doc quoted inside a 10k-word doc has Jaccard ≈ 0.01 but
    containment ≈ 1.0). The dedup-policy complement to
    ``ngram_jaccard_pairs``: near-dup clustering keeps one of A≈B, while
    containment flags A⊂B so the subset doc can be dropped and the superset
    kept (:func:`containment_subset_ids` applies exactly that policy).
    Output: (id_a, id_b, shared_grams, containment, __n_a, __n_b) — the
    distinct-gram sizes ride along for the subset-drop rule; the public
    :func:`containment_pairs` strips them.

    Plan at 100 TB (the repeated_spans candidate-bound discipline): grams →
    distinct (id, xxhash64(gram)) map-heavy stream; ONLY grams appearing in
    2..``max_gram_docs`` documents (defaults to the shared MAX_BUCKET cap)
    enter the pair self-join — singleton grams cannot contribute to an
    intersection, and stopword-like hub grams past the cap are dropped on
    BOTH the census and the join (conservative undercount, bounded join
    fan-out; identical rule to minhash bucket caps). All shuffles key on the
    8-byte gram hash or the id pair, never gram text. The DuckDB oracle
    groups raw gram strings with the same 2..cap band and agrees at test
    scale, certifying the hash path collision-free there.

    ``pair_cap`` (defaults to NEARDUP_PAIR_CAP): a Σ nd(nd−1) census over
    qualifying grams runs before the join and RAISES past the cap — on a
    duplicated corpus the true containment output is quadratic in the
    duplication factor, so the fix is deduping first, not a bigger join."""
    cap = MAX_BUCKET if max_gram_docs is None else max_gram_docs
    grams = (
        df.select(F.col(id_col), F.explode(shingles(key, n)).alias("__g"))
        .select(id_col, F.xxhash64("__g").alias("__gh"))
        # r10 ADVICE: the census below is a separate action — without a cut
        # the explode/hash stream is recomputed for the census AND the join
        # (the tfidf_cosine_pairs tf-aggregate discipline)
        .localCheckpoint(eager=False)
    )
    sizes = (
        grams.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("__n_grams"))
        .localCheckpoint(eager=False)  # joined back for BOTH pair sides
    )
    dup_sizes = (
        grams.groupBy("__gh")
        .agg(F.count(F.lit(1)).alias("__nd"))
        .filter((F.col("__nd") >= 2) & (F.col("__nd") <= cap))
        .localCheckpoint(eager=False)  # census action + semi-join both read it
    )
    # candidate-volume census BEFORE the join (the NEARDUP_PAIR_CAP
    # discipline): Σ nd(nd-1) ordered candidate rows over qualifying grams.
    # On a heavily-duplicated corpus (copies share every gram) this grows
    # quadratically in the duplication factor — the TRUE output does too
    # (containment pairs every copy with every copy), so past the cap the
    # right move is a raise, not a silent truncate: exact/near dedup FIRST
    # (the production pipeline order), then containment over survivors.
    pcap = NEARDUP_PAIR_CAP if pair_cap is None else pair_cap
    row = dup_sizes.agg(
        F.sum((F.col("__nd") * (F.col("__nd") - 1)).cast("long")).alias("c")
    ).first()
    est = int(row["c"] or 0)
    if est > pcap:
        raise ValueError(
            f"containment_pairs: ~{est} candidate pairs exceeds pair_cap "
            f"{pcap}; dedup the corpus first (near-dup copies pair "
            "quadratically) or raise pair_cap deliberately"
        )
    dup = dup_sizes.select("__gh")
    gg = grams.join(dup, "__gh", "left_semi")
    a, b = gg.alias("a"), gg.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.__gh") == F.col("b.__gh"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_grams"))
    )
    return (
        pairs.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("__n_grams").alias("__n_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("__n_grams").alias("__n_b")),
            "id_b",
        )
        .withColumn("containment", F.round(F.col("shared_grams") / F.col("__n_a"), 6))
        .filter(F.col("containment") >= threshold)
    )


def containment_subset_ids(
    df: DataFrame,
    key: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    threshold: float = 0.5,
    max_gram_docs: int | None = None,
    pair_cap: int | None = None,
) -> DataFrame:
    """The dedup POLICY :func:`containment_pairs` exists for (A ⊂ B ⇒ drop
    the subset, keep the superset): returns the ids of documents whose
    distinct ``n``-gram set is >= ``threshold`` contained in a STRICTLY
    LARGER document (more distinct grams; equal sizes tie to the smaller
    id, so mutual-containment twins keep exactly one). One-pass rule — a
    doc drops when ANY larger doc contains it at the threshold, whether or
    not that larger doc itself survives; deterministic, a single filter
    over the pair join, no fixpoint. Anti-join the result off the corpus
    (the curate_corpus ``containment_drop_threshold`` stage does exactly
    that, post-near-dedup where the pair census is guaranteed cheap)."""
    pairs = _containment_pairs_sized(
        df, key=key, id_col=id_col, n=n, threshold=threshold,
        max_gram_docs=max_gram_docs, pair_cap=pair_cap,
    )
    superset = (F.col("__n_b") > F.col("__n_a")) | (
        (F.col("__n_b") == F.col("__n_a")) & (F.col("id_b") < F.col("id_a"))
    )
    return pairs.filter(superset).select(F.col("id_a").alias(id_col)).distinct()
