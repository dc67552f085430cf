"""Incremental dedup — probe a NEW batch against a PERSISTED corpus index.

The reference toolkit dedups one frame at a time; a production training-data
pipeline almost never does that — it receives daily/hourly increments and
must answer "which of these documents has the 100 TB corpus already seen
(exactly or nearly)?" WITHOUT re-scanning the corpus. This module persists
the two index layers that make that probe cheap:

- ``exact`` layer: (fingerprint, doc_id) parquet partitioned by the
  fingerprint's first two hex chars (256 partitions). A small batch touches
  only the partitions its fingerprints land in — the probe pushes an
  ``isin`` filter on the partition column, so directory-level pruning reads
  a fraction of the index (plan-asserted in tests). Batches large enough to
  hit every prefix amortize a full merge, which is then inherent.
- ``near`` layer: banded MinHash — ``bands/`` (band, band_hash, doc_id) for
  candidate generation by equi-join, plus ``sigs/`` (doc_id, sig) fetched
  ONLY for candidate index docs (semi-join), verified by the signature
  Jaccard ESTIMATE (fraction of equal minhash positions). No document text
  is stored in the index, so index row size is bounded (k longs) no matter
  how large documents are.

Append = write the new batch's fingerprints/signatures with mode=append
after probing; duplicate index rows are harmless (probes aggregate).

Same hash family as llm/dedup.py (xxhash64 minhash, md5 fingerprints), so
an index written by one engine version probes identically in the next.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from analyst_toolkit_spark.llm.dedup import minhash_signature, shingles

FP_PREFIX = "fp_prefix"

#: Index metadata sidecar: records the layout knobs (prefix width) and the
#: near-layer hash family parameters (k, bands, n_shingle) so probes
#: self-configure — a probe with mismatched banding parameters would
#: silently miss candidates, and a mismatched prefix width would prune the
#: wrong partitions. Written via the Hadoop FS API (same scheme as the data).
META_FILE = "meta.json"

#: Distinct-fingerprint ceiling for the point-lookup probe tier: below it
#: the batch's fps inline as an isin predicate (directory + row-group
#: pruning, no join); above it the probe joins. Bounded driver memory:
#: the tier decision collects at most this many+1 (fp, prefix) rows.
PROBE_ISIN_MAX = 1024


def _fingerprints(df: DataFrame, key: str, id_col: str, prefix_width: int = 2) -> DataFrame:
    fp = F.md5(F.col(key))
    return df.select(
        F.col(id_col),
        fp.alias("fp"),
        F.substring(fp, 1, prefix_width).alias(FP_PREFIX),
    )


def _write_meta(spark: SparkSession, base: str, meta: dict) -> None:
    import json

    from analyst_toolkit_spark.llm.similarity import _hadoop_write_text

    _hadoop_write_text(spark, base + "/" + META_FILE, json.dumps(meta))


def _read_meta(spark: SparkSession, base: str) -> dict:
    import json

    from analyst_toolkit_spark.llm.similarity import _hadoop_read_text

    try:
        return json.loads(_hadoop_read_text(spark, base + "/" + META_FILE))
    except Exception:
        return {}  # pre-meta index: defaults apply


def _banded_sigs(
    df: DataFrame,
    key: str,
    id_col: str,
    n_shingle: int,
    k: int,
    bands: int,
    materialize: bool = True,
):
    """(sigs, banded): per-doc signature and its banded hashes — the exact
    minhash_candidates banding arithmetic (dedup.py:99-112) so index and
    ad-hoc paths collide identically.

    ``materialize`` (default) cuts the signature frame (localCheckpoint)
    after ONE computation: the fold is the dominant cost, and every
    consumer references the frame more than once — the index write ran two
    write actions (sigs + bands) and the near probe joins sigs twice, so
    each paid the fold per reference (r8 finding: the 7 s index write was
    ~half duplicated fold). The shingle-emptiness drop now filters the
    MATERIALIZED signature against the exact all-sentinel array (one
    parsed literal): the old ``size(shingles) > 0`` pre-filter pushed
    below the projection and re-tokenized every row (the
    expression-duplication trap, llm/dedup.sentinel_band_hash note)."""
    from analyst_toolkit_spark.llm.scale import ensure_parallelism

    r = k // bands
    # the shingle+signature fold is compute-bound: don't inherit file-count
    # partitioning (same guard as minhash_dedup_pairs / simhash_near_pairs)
    sh = ensure_parallelism(df).select(F.col(id_col), shingles(key, n_shingle).alias("sh"))
    raw = sh.select(F.col(id_col), minhash_signature(F.col("sh"), k).alias("sig"))
    if materialize:
        # r15 optimization round: a ``localCheckpoint(eager=False)`` cut. The
        # call runs only the shuffle below it (the repartition
        # ensure_parallelism may add); the fold is map-side above that, so
        # the consumer's first action (the sigs write in dedup_index_write,
        # the first probe join in near_probe) runs the fold and stores the
        # cut in one job instead of a dedicated materialization job first.
        # Every later reference reads the one stored copy — the fold runs
        # exactly once either way.
        raw = raw.localCheckpoint(eager=False)
    sentinel = "array(" + ",".join([f"{(1 << 63) - 1}L"] * k) + ")"
    sigs = raw.filter(F.expr(f"sig != {sentinel}"))
    banded = sigs.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.cast("int").alias("band"),
                    F.xxhash64(
                        F.concat_ws(",", F.transform(F.slice("sig", b * r + 1, r), lambda x: x.cast("string")))
                    ).alias("band_hash"),
                ),
            )
        ).alias("bh"),
    ).select(id_col, "bh.band", "bh.band_hash")
    return sigs, banded


def sig_jaccard_estimate(a, b, k: int):
    """MinHash Jaccard estimate: fraction of equal signature positions."""
    eq = F.zip_with(a, b, lambda x, y: (x == y).cast("int"))
    return F.aggregate(eq, F.lit(0), lambda acc, v: acc + v) / F.lit(float(k))


def dedup_index_write(
    df: DataFrame,
    path: str,
    key: str = "text",
    id_col: str = "doc_id",
    n_shingle: int = 3,
    k: int = 64,
    bands: int = 8,
    mode: str = "overwrite",
    layers: tuple[str, ...] = ("exact", "near"),
    prefix_width: int = 2,
) -> None:
    """Persist (or ``mode="append"``: extend) the selected index layers.

    ``layers`` lets exact-only pipelines skip the MinHash signature fold
    entirely — the near layer's shingle+signature pass is ~10× the cost of
    fingerprinting (measured in the round-5 scale sweep), and paying it for
    an index that will only ever serve :func:`exact_probe` is waste at any
    scale.

    ``prefix_width`` sets the fingerprint partition fan-out (16^width
    directories): 2 (256) is the 100 TB default; 1 (16) suits small corpora
    where per-directory committer overhead dominates. Probes read the width
    (and the near-layer hash parameters) from the ``meta.json`` sidecar, so
    an index is always probed with the parameters it was built with.
    """
    base = path.rstrip("/")
    exact_future = None
    pool = None
    if "exact" in layers:
        # shuffle by the partition column first: without it every write task
        # holds rows for ~all prefixes and emits a file per (task, prefix) —
        # 32x the file count, and small-file listing cost is what a probe
        # pays forever after. With it each prefix lands in one task (scale
        # the shuffle partition count up for 100 TB corpora).
        # sortWithinPartitions(fp): parquet row groups get tight fp min/max
        # stats, so the small-probe isin-pushdown tier skips row groups
        # inside a partition, not just directories
        fps = (
            _fingerprints(df, key, id_col, prefix_width)
            .repartition(F.col(FP_PREFIX))
            .sortWithinPartitions("fp")
        )

        def _write_exact():
            fps.write.mode(mode).partitionBy(FP_PREFIX).parquet(base + "/fingerprints")

        if "near" in layers:
            # r15 optimization round (guide §2.6 — overlap independent jobs):
            # the fingerprint write shares nothing with the near-layer writes
            # (different derivation, different output dirs), and the near
            # layer's signature fold is the long pole — run the exact write
            # on a driver thread so its tasks back-fill executor capacity the
            # fold's stage tail leaves idle, instead of serializing the two
            # layers. One extra thread only; the near writes stay sequential
            # (the bands write reads the sig checkpoint the sigs write
            # stores — overlapping THOSE would race to store the cut).
            from concurrent.futures import ThreadPoolExecutor

            pool = ThreadPoolExecutor(max_workers=1)
            exact_future = pool.submit(_write_exact)
        else:
            _write_exact()
    try:
        if "near" in layers:
            sigs, banded = _banded_sigs(df, key, id_col, n_shingle, k, bands)
            sigs.write.mode(mode).parquet(base + "/sigs")
            banded.write.mode(mode).partitionBy("band").parquet(base + "/bands")
    finally:
        if pool is not None:
            try:
                exact_future.result()  # propagate exact-layer failures
            finally:
                pool.shutdown()
    if mode != "append":
        # id_col is recorded because the index persists the id COLUMN NAME
        # verbatim — probes resolve it from here rather than assuming doc_id
        _write_meta(
            df.sparkSession,
            base,
            {
                "prefix_width": prefix_width,
                "k": k,
                "bands": bands,
                "n_shingle": n_shingle,
                "id_col": id_col,
            },
        )


def dedup_index_append(df: DataFrame, path: str, **kwargs) -> None:
    """Append a batch using the INDEX's recorded parameters — appending with
    a different hash family or prefix width would corrupt probe semantics,
    so meta.json wins over any passed k/bands/n_shingle/prefix_width."""
    meta = _read_meta(df.sparkSession, path.rstrip("/"))
    for param in ("k", "bands", "n_shingle", "prefix_width", "id_col"):
        if param in meta:
            kwargs[param] = meta[param]
    dedup_index_write(df, path, mode="append", **kwargs)


def exact_probe(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    key: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flag batch docs whose exact content the index has seen.

    Output: (doc_id, is_known_dup, matched_id) — matched_id is the SMALLEST
    index doc id sharing the fingerprint (deterministic). Three probe tiers
    by batch size, all value-identical:

    - **point lookup** (≤ ``PROBE_ISIN_MAX`` distinct fingerprints): the fp
      set is inlined as an ``isin`` predicate — directory pruning on the
      prefix partition column AND row-group skipping via the fp min/max
      stats the sorted write laid down. No join against the batch at all.
    - **small batch**: prefix-pruned index semi-joined against the
      broadcast batch fingerprint set.
    - **large batch** (plan bytes over the broadcast gate): same joins as
      plain shuffles — a huge increment must not be force-broadcast.

    The prefix width comes from the index's meta sidecar.
    """
    from analyst_toolkit_spark.functions.stats import plan_size_bytes

    meta = _read_meta(spark, path.rstrip("/"))
    width = int(meta.get("prefix_width", 2))
    # the index persists the id under the WRITER's id column name — resolve
    # it from meta (falling back to the probe's id_col for pre-meta indexes)
    idx_id = meta.get("id_col", id_col)
    # r15 optimization round: ONE evaluation of the batch subtree. The tier
    # collect below plus the final join (and, on the large tier, the prefix
    # collect) each referenced `fps` as an independent job — the caller's
    # batch plan (possibly an expensive upstream chain) ran up to three
    # times, and a nondeterministic batch (sample()/limit()) could hand the
    # two collects different fingerprint sets than the join (the
    # ivf_probe_join one-materialization rule). The call runs the shuffle
    # stages of the caller's batch plan, if any; the fingerprint projection
    # is map-side, and the tier collect is the action that stores the cut.
    # The row is 2 short hex strings +
    # an id — smaller than the near layer's unconditional k-long signature
    # cut, so the same discipline applies at any batch size.
    fps = _fingerprints(batch, key, id_col, width).localCheckpoint(eager=False)

    # one bounded collect decides the tier: <= cap+1 (fp, prefix) rows
    probe_rows = fps.select("fp", FP_PREFIX).distinct().limit(PROBE_ISIN_MAX + 1).collect()
    if len(probe_rows) <= PROBE_ISIN_MAX:
        fp_list = [r["fp"] for r in probe_rows]
        prefixes = sorted({r[FP_PREFIX] for r in probe_rows})
        pruned = (
            spark.read.parquet(path.rstrip("/") + "/fingerprints")
            .filter(F.col(FP_PREFIX).isin(prefixes))
            .filter(F.col("fp").isin(fp_list))
        )
        matches = pruned.groupBy("fp").agg(F.min(F.col(idx_id)).alias("matched_id"))
        return (
            fps.join(F.broadcast(matches), "fp", "left")
            .select(
                F.col(id_col),
                F.col("matched_id").isNotNull().alias("is_known_dup"),
                "matched_id",
            )
        )

    prefixes = [r[0] for r in fps.select(FP_PREFIX).distinct().collect()]  # <= 16^width rows
    index = spark.read.parquet(path.rstrip("/") + "/fingerprints").filter(
        F.col(FP_PREFIX).isin(prefixes)
    )
    # broadcast the batch side only while it is PROVABLY small — a daily
    # increment can itself be millions of docs, and force-broadcasting it
    # would OOM executors. Unknown size (-1: stats unavailable) is NOT
    # treated as small: a large batch with no stats must fall back to the
    # plain shuffle join, which AQE can still upgrade at runtime (same
    # trust-nothing rule llm/scale.py's pair_strategy now applies).
    size = plan_size_bytes(batch)
    small = 0 <= size <= (64 << 20)
    probe_set = fps.select("fp").distinct()
    matches = (
        index.join(F.broadcast(probe_set) if small else probe_set, "fp", "left_semi")
        .groupBy("fp")
        .agg(F.min(F.col(idx_id)).alias("matched_id"))
    )
    return (
        fps.join(F.broadcast(matches) if small else matches, "fp", "left")
        .select(
            F.col(id_col),
            F.col("matched_id").isNotNull().alias("is_known_dup"),
            "matched_id",
        )
    )


def exact_probe_stream(
    stream_df: DataFrame,
    path: str,
    key: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming twin of :func:`exact_probe`: flag stream documents whose
    exact content the persisted index has seen, via a STREAM-STATIC left
    join. The operator itself is state-free (no watermark) — the on-disk
    index carries the memory, which is the point of an incremental
    pipeline. Honest visibility contract: the static side's parquet FILE
    LISTING is snapshotted when the plan is built (InMemoryFileIndex is not
    relisted per micro-batch), so index appends become visible on the next
    query (re)start, not mid-stream — restart the query after an append
    cycle, or re-read the index inside a ``foreachBatch`` caller when
    mid-stream freshness is required.

    Unlike the batch probe, partition pruning can't apply (the batch's
    prefix set is unknown at plan time); each micro-batch pays one hash join
    against the index scan. Output schema matches the batch probe plus the
    stream's own columns.
    """
    spark = stream_df.sparkSession
    idx_id = _read_meta(spark, path.rstrip("/")).get("id_col", id_col)
    seen = (
        spark.read.parquet(path.rstrip("/") + "/fingerprints")
        .groupBy("fp")
        .agg(F.min(F.col(idx_id)).alias("matched_id"))
    )
    return (
        stream_df.withColumn("fp", F.md5(F.col(key)))
        .join(seen, "fp", "left")
        .withColumn("is_known_dup", F.col("matched_id").isNotNull())
        .drop("fp")
    )


def near_probe(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    key: str = "text",
    id_col: str = "doc_id",
    n_shingle: int = 3,
    k: int = 64,
    bands: int = 8,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate probe: batch docs vs indexed signatures.

    Candidates from the (band, band_hash) equi-join — only colliding rows
    meet, same S-curve as minhash_candidates; verification by signature
    Jaccard estimate over the k minhashes, fetched from ``sigs/`` ONLY for
    candidate index docs. Output: (batch_id, index_id, est_jaccard >=
    threshold). Deterministic given the xxhash64 family. The hash-family
    parameters (k, bands, n_shingle) come from the index's meta sidecar —
    probing with a different banding than the index was built with would
    silently miss candidates.
    """
    base = path.rstrip("/")
    meta = _read_meta(spark, base)
    k = int(meta.get("k", k))
    bands = int(meta.get("bands", bands))
    n_shingle = int(meta.get("n_shingle", n_shingle))
    idx_id = meta.get("id_col", id_col)  # index persists the WRITER's id name
    b_sigs, b_banded = _banded_sigs(batch, key, id_col, n_shingle, k, bands)
    idx_banded = spark.read.parquet(base + "/bands")
    cands = (
        b_banded.withColumnRenamed(id_col, "batch_id")
        .join(
            idx_banded.withColumnRenamed(idx_id, "index_id"),
            ["band", "band_hash"],
        )
        .select("batch_id", "index_id")
        .distinct()
        # r15 optimization round: the candidate frame feeds TWO subtrees —
        # the index-sig semi-join key set and the final verify join — so
        # without a cut the bands scan + candidate equi-join (the probe's
        # only index-scale work) ran once per reference. The call runs the
        # join's and the distinct's shuffle-map stages; the first probe
        # action runs the final stage and stores the cut. Candidate pairs
        # are id-pair-sized.
        .localCheckpoint(eager=False)
    )
    idx_sigs = (
        spark.read.parquet(base + "/sigs")
        .withColumnsRenamed({idx_id: "index_id", "sig": "index_sig"})
        .join(F.broadcast(cands.select("index_id").distinct()), "index_id", "left_semi")
        .groupBy("index_id")
        .agg(F.first("index_sig").alias("index_sig"))  # appends may duplicate rows
    )
    b_named = b_sigs.withColumnsRenamed({id_col: "batch_id", "sig": "batch_sig"})
    return (
        cands.join(b_named, "batch_id")
        .join(idx_sigs, "index_id")
        .withColumn("est_jaccard", F.round(sig_jaccard_estimate(F.col("batch_sig"), F.col("index_sig"), k), 6))
        .filter(F.col("est_jaccard") >= threshold)
        .select("batch_id", "index_id", "est_jaccard")
    )


# -- semantic (embedding) index layer ------------------------------------------
# The embedding counterpart of the exact/near lexical layers: persist the
# corpus's hyperplane buckets once, then answer "has the corpus seen a vector
# this close?" for a daily increment by reading ONLY the bucket partitions
# the batch lands in — never the corpus. Same plane family as
# llm/similarity (deterministic from (dim, n_planes, seed), regenerated at
# probe time from the meta sidecar — planes are never persisted, so an index
# can't drift from its probe arithmetic).

#: bucket-count ceiling for the point-lookup probe tier (isin directory
#: pruning); a batch touching more distinct buckets probes by join.
SEM_PROBE_ISIN_MAX = 1024


def semantic_index_write(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    seed: int = 42,
    mode: str = "overwrite",
) -> None:
    """Persist the semantic layer: (id, vector, norm, bucket) parquet
    partitioned by the hyperplane bucket (≤ 2^n_planes directories — 256 at
    the default 8 planes; raise n_planes for bigger corpora so per-bucket
    mass stays bounded, the same occupancy dial the SemDeDup stage
    documents). Norms are computed once at write time; the vector rides
    along because the probe's exact-cosine verify needs it — index row
    size is dim floats + 2 longs regardless of document size.

    The bucket shuffle before the write is the same small-files discipline
    as the fingerprint layer: each bucket lands in one task, one file."""
    dim_row = df.select(F.size(F.col(vec_col)).alias("d")).filter(F.col("d") > 0).first()
    dim = int(dim_row["d"]) if dim_row else 0
    from analyst_toolkit_spark.llm.similarity import _hyperplanes, hyperplane_bucket, norm

    planes = _hyperplanes(dim, n_planes, seed)
    base = path.rstrip("/")
    rows = (
        df.select(
            F.col(id_col),
            F.col(vec_col).alias("vec"),
            norm(F.col(vec_col)).alias("vnorm"),
            hyperplane_bucket(F.col(vec_col), planes).alias("bucket"),
        )
        .repartition(F.col("bucket"))
        .sortWithinPartitions(id_col)
    )
    rows.write.mode(mode).partitionBy("bucket").parquet(base + "/vectors")
    if mode != "append":
        _write_meta(
            df.sparkSession,
            base,
            {"n_planes": n_planes, "seed": seed, "dim": dim, "id_col": id_col},
        )


def semantic_index_append(df: DataFrame, path: str, **kwargs) -> None:
    """Append a batch with the INDEX's recorded plane family — appending
    under different planes would scatter identical vectors across buckets
    and silently break probe recall, so meta.json wins. That includes the
    DIMENSION: ``_hyperplanes(dim, ...)`` draws a dim-dependent RNG stream,
    so a wrong-dim batch (different embedding model, wrong column) would
    regenerate a DIFFERENT plane family and scatter its appends into wrong
    buckets — exactly the silent recall break the meta sidecar exists to
    prevent. The batch's vector dim is validated against ``meta['dim']``
    and a mismatch raises."""
    meta = _read_meta(df.sparkSession, path.rstrip("/"))
    for param in ("n_planes", "seed", "id_col"):
        if param in meta:
            kwargs[param] = meta[param]
    if "dim" in meta:
        vec_col = kwargs.get("vec_col", "embedding")
        got = (
            df.select(F.size(F.col(vec_col)).alias("d"))
            .filter(F.col("d") > 0)
            .first()
        )
        if got is not None and int(got["d"]) != int(meta["dim"]):
            raise ValueError(
                f"semantic_index_append: batch vector dim {int(got['d'])} != "
                f"index dim {int(meta['dim'])} (meta.json) — appending would "
                f"regenerate a different hyperplane family and scatter the "
                f"batch into wrong buckets; re-embed the batch or rebuild "
                f"the index"
            )
    semantic_index_write(df, path, mode="append", **kwargs)


def semantic_probe(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Flag batch vectors the index has (nearly) seen: per batch row, the
    SMALLEST index id whose exact cosine reaches ``threshold`` among
    same-bucket candidates, plus the best candidate cosine as the audit
    number.

    Probe shape: batch buckets are computed map-only with the index's own
    plane family (meta sidecar); when the batch touches ≤
    ``SEM_PROBE_ISIN_MAX`` distinct buckets (bounded collect — bucket
    cardinality ≤ 2^n_planes regardless of batch size) the index scan is
    pruned with an ``isin`` on the partition column — directory-level
    pruning, the corpus is never rescanned. Bigger bucket sets fall back to
    a plain join on the partition column. Candidates are verified with
    EXACT cosine on the stored vectors, so precision is 1; recall follows
    bucket geometry (identical/scaled vectors share every sign bit and are
    always caught — the exact-copy contract every LSH path here documents).

    Output: (id_col, is_known_dup, matched_id, best_cosine) — best_cosine
    is the max over candidates (null when no bucket was shared), a lower
    bound on the true max, which is what a candidate-pruned index can
    certify."""
    from analyst_toolkit_spark.llm.similarity import (
        _hyperplanes,
        dot_cols,
        hyperplane_bucket,
        norm,
    )

    base = path.rstrip("/")
    meta = _read_meta(spark, base)
    n_planes = int(meta.get("n_planes", 8))
    seed = int(meta.get("seed", 42))
    dim = int(meta.get("dim", 0))
    idx_id = meta.get("id_col", id_col)
    planes = _hyperplanes(dim, n_planes, seed)
    b = batch.select(
        F.col(id_col).alias("__b_id"),
        F.col(vec_col).alias("__b_vec"),
        norm(F.col(vec_col)).alias("__b_norm"),
        hyperplane_bucket(F.col(vec_col), planes).alias("bucket"),
    ).localCheckpoint(eager=False)  # bucketing cost paid once (collect + join)

    buckets = [
        r["bucket"]
        for r in b.select("bucket").distinct().limit(SEM_PROBE_ISIN_MAX + 1).collect()
    ]
    index = spark.read.parquet(base + "/vectors")
    if len(buckets) <= SEM_PROBE_ISIN_MAX:
        index = index.filter(F.col("bucket").isin(buckets))
    cos = F.round(
        dot_cols(F.col("__b_vec"), F.col("vec")) / (F.col("__b_norm") * F.col("vnorm")), 6
    )
    cand = (
        b.join(index, "bucket")
        .withColumn("__cos", cos)
        .groupBy("__b_id")
        .agg(
            F.max("__cos").alias("best_cosine"),
            F.min(
                F.when(F.col("__cos") >= F.lit(float(threshold)), F.col(idx_id))
            ).alias("matched_id"),
        )
    )
    return (
        b.join(cand, "__b_id", "left")
        .select(
            F.col("__b_id").alias(id_col),
            F.col("matched_id").isNotNull().alias("is_known_dup"),
            "matched_id",
            "best_cosine",
        )
    )


def semantic_probe_stream(
    stream_df: DataFrame,
    path: str,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Streaming twin of :func:`semantic_probe`: flag stream vectors the
    persisted index has (nearly) seen via a STREAM-STATIC equi-join on the
    bucket column — state-free (the on-disk index carries the memory, the
    same contract and the same honest visibility rule as
    :func:`exact_probe_stream`: the static file listing is snapshotted at
    plan build, so appends become visible on query restart, not
    mid-stream).

    The stream side buckets map-only with the index's plane family (meta
    sidecar); directory pruning can't apply (the micro-batch's bucket set
    is unknown at plan time), so each micro-batch pays one hash join
    against the bucket-partitioned scan, with exact-cosine verification on
    the candidates. The batch probe's final per-id ``groupBy`` reduction
    would make this an aggregated (non-append) stream, so the output here
    is the MATCH-PAIR stream instead — (stream id, matched index id,
    cosine) filtered to ``>= threshold`` — and the caller reduces
    downstream (foreachBatch, or a watermarked dropDuplicates on the
    stream id) where that trade-off belongs."""
    from analyst_toolkit_spark.llm.similarity import (
        _hyperplanes,
        dot_cols,
        hyperplane_bucket,
        norm,
    )

    spark = stream_df.sparkSession
    base = path.rstrip("/")
    meta = _read_meta(spark, base)
    planes = _hyperplanes(int(meta.get("dim", 0)), int(meta.get("n_planes", 8)), int(meta.get("seed", 42)))
    idx_id = meta.get("id_col", id_col)
    index = spark.read.parquet(base + "/vectors").withColumnsRenamed(
        {idx_id: "matched_id"}
    )
    s = stream_df.select(
        F.col(id_col),
        F.col(vec_col).alias("__s_vec"),
        norm(F.col(vec_col)).alias("__s_norm"),
        hyperplane_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    cos = F.round(
        dot_cols(F.col("__s_vec"), F.col("vec")) / (F.col("__s_norm") * F.col("vnorm")), 6
    )
    return (
        s.join(index, "bucket")
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= F.lit(float(threshold)))
        .select(id_col, "matched_id", "cosine")
    )


# -- persisted BM25 posting index (r15) ---------------------------------------

#: Term-bucket fan-out for the BM25 posting layout (md5-derived, so the
#: partition key replays in any engine). 64 directories is the default
#: production fan-out; probes prune to the workload's buckets.
BM25_TERM_BUCKETS = 64

#: Distinct-term ceiling for a probe workload: the pruned scan inlines the
#: term set as an isin predicate (directory pruning on the bucket column +
#: row-group skipping on term min/max), so the set must stay plan-sized.
BM25_PROBE_MAX_TERMS = 4096


def _bm25_bucket(term, n_buckets: int):
    """md5-derived term bucket — the hash_split arithmetic (first 8 hex
    chars as an integer), reproducible in SQL and in driver Python."""
    return F.pmod(
        F.conv(F.substring(F.md5(term), 1, 8), 16, 10).cast("long"),
        F.lit(int(n_buckets)),
    ).cast("int")


def _bm25_bucket_py(term: str, n_buckets: int) -> int:
    import hashlib

    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:8], 16) % n_buckets


#: Per-doc marker row for :func:`_bm25_postings`'s single-pass stream: a
#: value the tokenizer can never produce (``_VOCAB_TOKEN_RE`` is
#: ``[a-z0-9']+`` over LOWERCASED text — uppercase and ``_`` are outside
#: the alphabet), so filtering it out of the postings can never drop a
#: real term.
_BM25_DL_SENTINEL = "__DL__"


def _bm25_postings(df: DataFrame, key: str, id_col: str, n_buckets: int):
    """(postings, stats_observation): postings = (id, term, tf, dl,
    term_bucket); the corpus scalars (doc count, Σdl) ride an ``observe()``
    on the same stream, collected for free by whatever action materializes
    the postings (the index write) — no separate lens frame, cut, or job.

    ONE tokenize pass at ANY corpus size (r15 VERDICT #8 — the r15 form
    paid two passes above its token-cut size gate, and a 4 GiB
    localCheckpoint gate below it): the token array is projected once and
    prefixed with a sentinel element, so EVERY document — including null-
    and empty-text ones — emits exactly one sentinel row carrying its dl.
    dl = size(tokens) stays NULL for null text (the N/avgdl contract: a
    null-text doc counts toward N but contributes nothing to Σdl) via a
    cheap null test on the RAW column, never a second tokenize. The
    sentinel rows feed the observation (count → n_docs, sum(dl) → Σdl;
    Catalyst does not push the postings filter through CollectMetrics —
    pinned by test) and are filtered before the write. dl rides the
    groupBy key (constant per doc), which also deletes the old
    postings⋈lens join and its doc-keyed exchange."""
    from pyspark.sql import Observation

    from analyst_toolkit_spark.llm.text import _VOCAB_TOKEN_RE

    toks = F.regexp_extract_all(F.lower(F.col(key)), F.lit(_VOCAB_TOKEN_RE), F.lit(0))
    # two-step projection: __mtoks is an expensive alias referenced twice
    # below (size + explode input) — CollapseProject keeps it a single
    # evaluation (plan-pinned: exactly one regexp_extract_all).
    marked = df.select(
        F.col(id_col),
        F.col(key).isNull().alias("__knull"),
        F.concat(F.array(F.lit(_BM25_DL_SENTINEL)), F.coalesce(toks, F.array())).alias(
            "__mtoks"
        ),
    )
    # explode_OUTER although the array is never empty (the sentinel prefix
    # guarantees >= 1 element): inner explode makes InferFiltersFromGenerate
    # synthesize a size(..) > 0 pre-filter that re-evaluates the regex per
    # row — the second tokenize this rewrite exists to remove.
    stream = marked.select(
        F.col(id_col),
        F.when(F.col("__knull"), F.lit(None).cast("int"))
        .otherwise(F.size("__mtoks") - F.lit(1))
        .alias("dl"),
        F.explode_outer("__mtoks").alias("term"),
    )
    grouped = stream.groupBy(id_col, "dl", "term").agg(F.count(F.lit(1)).alias("tf"))
    obs = Observation()
    observed = grouped.observe(
        obs,
        F.count(F.when(F.col("term") == _BM25_DL_SENTINEL, 1)).alias("n_docs"),
        F.sum(F.when(F.col("term") == _BM25_DL_SENTINEL, F.col("dl"))).alias("sum_dl"),
    )
    postings = observed.filter(F.col("term") != _BM25_DL_SENTINEL).select(
        F.col(id_col), F.col("term"), F.col("tf"), F.col("dl")
    ).withColumn("term_bucket", _bm25_bucket(F.col("term"), n_buckets))
    return postings, obs


def bm25_index_write(
    df: DataFrame,
    path: str,
    key: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = BM25_TERM_BUCKETS,
) -> None:
    """Persist a BM25 POSTING index: (term, doc, tf, dl) parquet partitioned
    by an md5-derived term bucket, plus a meta sidecar with the corpus
    stats (N, Σdl) — the lexical retrieval counterpart of the dedup /
    semantic index layers above, and the persisted complement of
    :func:`~analyst_toolkit_spark.llm.text.bm25_topk_join` (which
    re-tokenizes the corpus per workload; at 100 TB the corpus scan IS the
    cost, and a retrieval service cannot pay it per query batch).

    THE design decision that keeps appends honest: per-term document
    frequency is NOT stored — a term's postings all live in its bucket, so
    the probe derives df by counting the pruned postings (always correct,
    even after appends), while the sidecar carries only the two exactly-
    mergeable corpus scalars (doc count, Σdl). There is nothing in the
    layout that goes stale on :func:`bm25_index_append` — compare the pq
    append caveat (:func:`~analyst_toolkit_spark.llm.similarity.
    ivf_append`), which this layout deliberately avoids.

    The postings write repartitions on the bucket column first (the
    dedup-layer small-files rule: without it every task emits a file per
    bucket). Tokenization is the shared ``_VOCAB_TOKEN_RE``; terms store
    lowercase."""
    base = path.rstrip("/")
    postings, obs = _bm25_postings(df, key, id_col, n_buckets)
    postings.repartition("term_bucket").write.mode("overwrite").partitionBy(
        "term_bucket"
    ).parquet(base + "/postings")
    # corpus scalars observed during the write itself — one job total
    stats = obs.get
    _write_meta(
        df.sparkSession,
        base,
        {
            "kind": "bm25",
            "n_buckets": int(n_buckets),
            "n_docs": int(stats["n_docs"]),
            "sum_dl": int(stats["sum_dl"] or 0),
            "key": key,
            "id_col": id_col,
        },
    )


def bm25_index_append(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    key: str | None = None,
    id_col: str | None = None,
) -> None:
    """Append NEW documents' postings and fold their (doc count, Σdl) into
    the sidecar scalars. Probe-visible correctness needs no rebuild:
    df derives from the postings at probe time and the two scalars merge
    exactly, so a probe of (base + append) equals a probe of an index
    built whole (suite-asserted). Contract: batch ids must be NEW — an id
    already indexed would double its postings (the caller dedups against
    the corpus first; that is what the exact/near probe layers above are
    for). Tokenizer/layout parameters come from the sidecar, never from
    arguments (the meta-wins rule)."""
    base = path.rstrip("/")
    meta = _read_meta(spark, base)
    if meta.get("kind") != "bm25":
        raise ValueError(f"bm25_index_append: {path!r} is not a bm25 index")
    key = key or meta["key"]
    id_col = id_col or meta["id_col"]
    postings, obs = _bm25_postings(batch, key, id_col, int(meta["n_buckets"]))
    postings.repartition("term_bucket").write.mode("append").partitionBy(
        "term_bucket"
    ).parquet(base + "/postings")
    stats = obs.get  # observed during the append write — one job total
    meta["n_docs"] = int(meta["n_docs"]) + int(stats["n_docs"])
    meta["sum_dl"] = int(meta["sum_dl"]) + int(stats["sum_dl"] or 0)
    _write_meta(spark, base, meta)


def bm25_index_probe(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 50,
    query_id_col: str = "query_id",
    terms_col: str = "terms",
    k1: float = 1.2,
    b: float = 0.75,
    max_terms: int = BM25_PROBE_MAX_TERMS,
) -> DataFrame:
    """Batched BM25 top-k WITHOUT touching the corpus: score a whole query
    workload against the persisted posting index, reading ONLY the term
    buckets the workload's terms hash into (PartitionFilters, plan-
    asserted) with the term set pushed as a row-group predicate. Per-query
    results are EXACTLY :func:`~analyst_toolkit_spark.llm.text.
    bm25_topk_join` over the indexed corpus (same idf/saturation
    arithmetic — df counted from the pruned postings, N/avgdl from the
    sidecar scalars; round 6; ties to smallest id; suite-asserted,
    including across appends).

    The workload's distinct term set collects driver-side (bounded:
    ``max_terms`` fail-loud — it must inline as the pruning predicate);
    the (query, term) table then rides one lineage cut into the scoring
    join (the one-materialization rule). Cost shape at 100 TB: the scan
    reads Σ_t |postings(t)| rows — the actual hit volume — never the
    corpus; everything after is workload-scale."""
    from analyst_toolkit_spark.functions.stats import maybe_broadcast
    from analyst_toolkit_spark.llm.similarity import _per_query_topk

    base = path.rstrip("/")
    meta = _read_meta(spark, base)
    if meta.get("kind") != "bm25":
        raise ValueError(f"bm25_index_probe: {path!r} is not a bm25 index")
    n_docs, sum_dl = int(meta["n_docs"]), int(meta["sum_dl"])
    n_buckets = int(meta["n_buckets"])
    idx_id = meta["id_col"]
    avgdl = sum_dl / n_docs if n_docs else 0.0

    guarded_terms = (
        F.when(
            F.col(terms_col).isNull(),
            F.raise_error(
                F.lit(f"bm25_index_probe: null terms array (column {terms_col!r})")
            ).cast("array<string>"),
        )
        .otherwise(F.col(terms_col).cast("array<string>"))
    )
    qt = (
        queries.select(F.col(query_id_col), F.explode(guarded_terms).alias("term"))
        .withColumn("term", F.lower(F.col("term")))
        .dropDuplicates([query_id_col, "term"])
        .localCheckpoint(eager=False)  # term-set collect + scoring join read one materialization
    )
    term_rows = qt.select("term").distinct().limit(max_terms + 1).collect()
    if len(term_rows) > max_terms:
        raise ValueError(
            f"bm25_index_probe: workload has > max_terms={max_terms} distinct "
            f"terms — the set must inline as the pruning predicate; split the "
            f"workload or raise the cap"
        )
    terms = sorted(r["term"] for r in term_rows)
    buckets = sorted({_bm25_bucket_py(t, n_buckets) for t in terms})
    pruned = (
        spark.read.parquet(base + "/postings")
        .filter(F.col("term_bucket").isin(buckets))
        .filter(F.col("term").isin(terms))
    )
    # df derives from the pruned scan — correct by construction after appends
    df_t = pruned.groupBy("term").agg(F.count(F.lit(1)).alias("__df"))
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("__df") + 0.5) / (F.col("__df") + 0.5)
    )
    scored = (
        pruned.join(df_t, "term")
        .join(maybe_broadcast(qt), "term")
        .select(
            F.col(query_id_col),
            F.col(idx_id),
            (
                idf
                * (F.col("tf") * (k1 + 1))
                / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.lit(float(avgdl))))
            ).alias("__s"),
        )
        .groupBy(query_id_col, idx_id)
        .agg(F.round(F.sum("__s"), 6).alias("score"))
    )
    return _per_query_topk(scored, query_id_col, idx_id, int(k), score_col="score")
