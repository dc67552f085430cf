"""Sequence packing for LLM training pipelines.

Training-data prep ends by packing documents into fixed-token-budget
training sequences ("concat-and-chunk"): walk the corpus in a deterministic
order, accumulate token counts, and start a new sequence whenever the budget
would overflow. The assignment for a document is a pure function of the
GLOBAL running token total before it — which is the hard part on a cluster:
Spark's window over a global ORDER BY collapses to a single task.

This module implements the classic two-phase distributed prefix sum instead:

1. ``repartitionByRange`` on the order column — the range partitioner gives
   ascending, non-overlapping key ranges to ascending partition ids, so
   partition id order IS global order.
2. One tiny driver-side pass over the per-partition token totals (N numbers
   for N partitions) turns them into per-partition offsets.
3. A per-partition window cumsum plus the broadcast offset yields the exact
   global running total — every pass is parallel; the only serial work is
   summing N partial totals on the driver.

The result is deterministic, independent of input partitioning, and equal to
a single-node cumsum (the DuckDB oracle runs the plain windowed SQL).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from analyst_toolkit_spark.llm.text import token_count  # packing counts tokens the same way the text metrics do
from analyst_toolkit_spark.sources.io import local_frame

_PID = "__pack_pid"
_OFF = "__pack_off"
_CUM = "_cum_tokens"


def with_global_cumsum(
    df: DataFrame,
    value_col: str,
    order_col: str | list[str],
    out_col: str = _CUM,
    num_partitions: int | None = None,
    group_col: str | None = None,
    return_total: bool = False,
) -> DataFrame:
    """Exact global running sum of ``value_col`` in ``order_col`` order,
    WITHOUT a single-partition global window.

    ``order_col`` (a column name or a list for composite ordering) must be
    unique as a whole (document ids are; (price, pk) pairs are): the range
    partitioner may split runs of equal keys across partitions, which would
    make the per-partition cumsum order-ambiguous.

    ``group_col`` (optional) resets the running sum per group — rows are
    range-partitioned on (group, order) and the driver computes offsets per
    group in partition-id order, so each group gets its own independent exact
    cumsum in a single pair of jobs (no per-group loop).

    The partitioning is MATERIALIZED (``localCheckpoint``) before the totals
    are collected: ``repartitionByRange`` derives its range boundaries from
    reservoir sampling whose result depends on within-partition row order,
    which is nondeterministic after an upstream shuffle. Without the pin, the
    totals job and the final windowed job could see *different* partition
    boundaries, silently misaligning the driver offsets. With the pin, both
    jobs read one materialization.

    ``return_total`` (r15 optimization round): return ``(df, total)`` where
    ``total`` is the exact global sum of ``value_col`` — the per-partition
    totals this function already collects for the prefix offsets sum to it
    (long arithmetic, order-free), so a caller that also needs the total
    (``shard_assign``) skips a whole extra scan-and-aggregate action over
    the un-materialized input. Ungrouped mode only.
    """
    if return_total and group_col:
        raise ValueError("return_total is only supported without group_col")
    spark = df.sparkSession
    if num_partitions is None:
        try:
            num_partitions = spark.sparkContext.defaultParallelism
        except Exception:
            num_partitions = 32
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    range_keys = ([F.col(group_col)] if group_col else []) + [F.col(c) for c in order_cols]
    ranged = (
        df.repartitionByRange(num_partitions, *range_keys)
        .withColumn(_PID, F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    # phase 1+2: per-(partition[, group]) totals -> driver prefix offsets.
    # The collect is N scalars for N partitions (× groups) — never row data.
    grp_keys = [_PID] + ([group_col] if group_col else [])
    rows = ranged.groupBy(*grp_keys).agg(F.sum(F.col(value_col)).alias("t")).collect()
    if group_col:
        # offsets restart at 0 per group; partitions within a group are
        # contiguous in pid order because the range keys lead with the group.
        offsets: dict[tuple, int] = {}
        running_by_group: dict = {}
        for r in sorted(rows, key=lambda r: (str(r[group_col]), r[_PID])):
            g = r[group_col]
            offsets[(r[_PID], g)] = running_by_group.get(g, 0)
            running_by_group[g] = running_by_group.get(g, 0) + (r["t"] or 0)
        grp_type = dict(df.dtypes)[group_col]
        off_df = local_frame(
            spark,
            [(pid, g, off) for (pid, g), off in offsets.items()],
            f"{_PID} int, {group_col} {grp_type}, {_OFF} long",
        )
        join_keys = [_PID, group_col]
        w_part = [F.col(_PID), F.col(group_col)]
    else:
        totals = {r[_PID]: r["t"] for r in rows}
        off_map, running = {}, 0
        for pid in sorted(totals):
            off_map[pid] = running
            running += totals[pid] or 0
        off_df = local_frame(spark, [(pid, off) for pid, off in off_map.items()], f"{_PID} int, {_OFF} long")
        join_keys = [_PID]
        w_part = [F.col(_PID)]
    # phase 3: local cumsum + offset == exact global cumsum
    w = (
        Window.partitionBy(*w_part)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        ranged.join(F.broadcast(off_df), join_keys)
        .withColumn(out_col, F.sum(F.col(value_col)).over(w) + F.col(_OFF))
        .drop(_PID, _OFF)
    )
    if return_total:
        return out, sum((t or 0) for t in totals.values())
    return out




def pack_sequences(
    df: DataFrame,
    budget: int,
    key: str = "text",
    id_col: str = "doc_id",
    tokens_col: str | None = None,
    split_col: str | None = None,
    order_col: str | list[str] | None = None,
) -> DataFrame:
    """Assign every document to a training sequence under a token budget
    (concat-and-chunk semantics): documents are taken in ``id_col`` order and
    ``seq_id = floor(running_total_before_doc / budget)`` — a document that
    straddles a boundary opens the next sequence's budget, exactly like the
    streaming concat-then-split packers used in LLM data prep.

    ``order_col`` overrides the packing walk order (default: ``id_col``).
    It must be unique as a whole — pass ``"shuffle_pos"`` after
    :func:`global_shuffle` so sequences are built from the locality-free
    permuted stream, or ``[id, "epoch"]`` after
    :func:`~analyst_toolkit_spark.llm.text.epoch_mix`, where the id alone
    no longer is.

    Output: input columns + ``n_tokens``, ``_cum_tokens`` (global running
    total INCLUDING the doc), ``seq_id``. Deterministic and
    partitioning-independent; the whole assignment reproduces as one
    windowed SQL expression, so it is fully oracle-checkable.

    ``split_col`` (optional): pack each split ("train"/"val"/"test") as an
    INDEPENDENT stream — the running total resets per split and ``seq_id``
    is namespaced by split, so a packed training sequence can never mix
    documents from different splits (the contamination curate_corpus exists
    to prevent).
    """
    toks = F.col(tokens_col) if tokens_col else token_count(key)
    with_tokens = df.withColumn("n_tokens", toks.cast("long"))
    cum = with_global_cumsum(
        with_tokens,
        "n_tokens",
        order_col if order_col is not None else id_col,
        group_col=split_col,
    )
    seq = F.floor((F.col(_CUM) - F.col("n_tokens")) / F.lit(int(budget)))
    if split_col:
        seq = F.concat_ws("/", F.col(split_col), seq.cast("string"))
    return cum.withColumn("seq_id", seq)


def pack_stats(packed: DataFrame, budget: int) -> DataFrame:
    """Packing census: sequences, fill factor, docs/sequence — the numbers a
    data-prep run reports after packing."""
    per_seq = packed.groupBy("seq_id").agg(
        F.count(F.lit(1)).alias("docs"), F.sum("n_tokens").alias("seq_tokens")
    )
    return per_seq.agg(
        F.count(F.lit(1)).alias("n_seqs"),
        F.sum("docs").cast("long").alias("total_docs"),
        F.sum("seq_tokens").cast("long").alias("total_tokens"),
        F.round(F.avg("seq_tokens") / F.lit(float(budget)), 6).alias("avg_fill"),
        F.max("docs").cast("long").alias("max_docs_per_seq"),
    )


def global_ntile(
    df: DataFrame,
    n: int,
    order_col: str | list[str],
    out_col: str = "ntile",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact SQL-NTILE(n) over a GLOBAL order without the single-task
    global window (``Window.orderBy`` with no partitionBy funnels the whole
    table through one task at scale — the collapse this module exists to
    avoid).

    Row numbers come from the distributed prefix sum of 1 over the
    (composite) ordering key; the band is NTILE's exact arithmetic applied
    map-only: with N rows, q = N // n and r = N %% n, the first r bands take
    q+1 rows. Ties split across bands identically to ``ntile(n) OVER
    (ORDER BY ...)`` because the row number is computed over the same total
    order. The ordering key must be unique as a whole (append a primary key
    as the last element, exactly as SQL NTILE users do for determinism).

    Cost: one count, one range shuffle + materialization, one broadcast
    offsets join — every pass parallel; the driver holds one scalar per
    partition."""
    total = df.count()
    q, r = divmod(total, int(n))
    rn_df = with_global_cumsum(
        df.withColumn("__one", F.lit(1).cast("long")),
        "__one",
        order_col,
        out_col="__rn",
        num_partitions=num_partitions,
    )
    rn = F.col("__rn")
    if q == 0:
        band = rn
    else:
        head = F.lit(r * (q + 1))
        band = F.when(rn <= head, F.ceil(rn / F.lit(q + 1))).otherwise(
            F.lit(r) + F.ceil((rn - head) / F.lit(q))
        )
    return rn_df.withColumn(out_col, band.cast("int")).drop("__one", "__rn")


def length_buckets(
    df: DataFrame,
    key: str = "text",
    boundaries: tuple = (32, 64, 128, 256, 512, 1024),
    out_col: str = "bucket_cap",
) -> DataFrame:
    """Length-bucketed batching assignment — the padding-based alternative to
    :func:`pack_sequences` (seq2seq-style training batches same-length docs
    together and pads to the bucket cap; packing concatenates instead). Each
    doc gets the SMALLEST cap >= its whitespace token count; docs over the
    largest cap get cap = -1 (truncate or route to packing). Map-only
    literal CASE chain; adds ``n_tokens`` and ``out_col``."""
    from analyst_toolkit_spark.llm.text import token_count

    out = df.withColumn("n_tokens", token_count(key))
    caps = sorted(int(b) for b in boundaries)
    expr = F.lit(-1)
    for cap in reversed(caps):
        expr = F.when(F.col("n_tokens") <= cap, F.lit(cap)).otherwise(expr)
    return out.withColumn(out_col, expr.cast("int"))


def bucket_padding_stats(bucketed: DataFrame, cap_col: str = "bucket_cap") -> DataFrame:
    """Per-bucket padding census: docs, real tokens, padded slots wasted, and
    fill efficiency (tokens / (cap * docs)) — the number that says whether
    bucketing beats packing for a corpus. Overflow rows (cap = -1) report
    zero padding and NULL efficiency. One small keyed aggregation."""
    cap = F.col(cap_col)
    return (
        bucketed.groupBy(cap_col)
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_tokens").cast("long").alias("tokens"),
            F.sum(
                F.when(cap > 0, cap - F.col("n_tokens")).otherwise(F.lit(0))
            ).cast("long").alias("padding"),
            F.round(
                F.when(
                    cap > 0, F.sum("n_tokens") / (cap * F.count(F.lit(1)))
                ),
                6,
            ).alias("efficiency"),
        )
    )


def grouped_ntile(
    df: DataFrame,
    n: int,
    order_col: str | list[str],
    group_col: str,
    out_col: str = "ntile",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact ``NTILE(n) OVER (PARTITION BY group ORDER BY ...)`` without any
    per-group single-task funnel: the per-group row numbers come from the
    group-resetting distributed prefix sum (:func:`with_global_cumsum` with
    ``group_col``), the per-group totals from one keyed count, and NTILE's
    exact band arithmetic is then map-only. A plain partitioned window is
    fine when groups are small — this is for the SKEWED case (one group =
    half the corpus funnels through one task at 100 TB; here it spreads
    over the range partitioning like every other group).

    Ordering key must be unique WITHIN a group as a whole (append the
    primary key last). Cost: one count-shuffle, one range shuffle +
    materialization, one offsets broadcast, one totals join (unhinted —
    group cardinality is corpus-derived; AQE broadcasts when small)."""
    rn_df = with_global_cumsum(
        df.withColumn("__one", F.lit(1).cast("long")),
        "__one",
        order_col,
        out_col="__rn",
        num_partitions=num_partitions,
        group_col=group_col,
    )
    totals = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__tot"))
    j = rn_df.join(totals, group_col)
    rn = F.col("__rn")
    qc = F.floor(F.col("__tot") / n).cast("long")
    rc = (F.col("__tot") % n).cast("long")
    head = rc * (qc + 1)
    band = F.when(qc == F.lit(0), rn).otherwise(
        F.when(rn <= head, F.ceil(rn / (qc + 1))).otherwise(
            rc + F.ceil((rn - head) / qc)
        )
    )
    return j.withColumn(out_col, band.cast("int")).drop("__one", "__rn", "__tot")


def grouped_topk(
    df: DataFrame,
    k: int,
    order_col: str | list[str],
    group_col: str,
    rank_col: str = "rank",
) -> DataFrame:
    """Top-``k`` rows per group by ``order_col`` DESCENDING (the "best 100
    docs per source" gate) without a per-group single-task window funnel —
    the top-k complement to :func:`grouped_ntile`, same skew contract. A
    plain ``row_number() OVER (PARTITION BY group ORDER BY ...)`` ships
    every row of a group to ONE task; at 100 TB a half-corpus group is a
    straggler and an OOM. Here the heavy lifting is two bounded phases:

    1. per-(group, input-partition) top-k: ``groupBy(group,
       spark_partition_id())`` + sort_array + slice. The exchange spreads a
       skewed group over as many keys as it has input partitions (each
       reduce-side list is bounded by ONE partition's share of the group,
       never the whole group), and phase 2's input is only k rows per
       (group, partition).
    2. per-group merge of the per-partition winners: k × n_partitions rows
       per group — bounded state, one more small shuffle.

    Correct for ANY placement: top-k of a union is the top-k of the merged
    per-slice top-ks, so the nondeterministic partition ids never leak into
    the result. The ordering tuple must be UNIQUE within a group (append
    the primary key last — the grouped_ntile contract); all key fields sort
    DESCENDING. Output: input columns + ``rank_col`` (1 = best).

    Only ``(group_col, *order_cols)`` ride the two ranking shuffles — the
    payload columns never enter sort_array (so map-typed and other
    non-orderable payload types are fine; r11 VERDICT nit) and, more
    importantly at 100 TB, the heavy row body never shuffles at all: the
    winners (k rows per group) join back onto the input in a null-safe
    equi-join on the key tuple — size-gated broadcast hint (group
    cardinality is corpus-derived, so no hard hint; AQE decides when the
    estimate is unknown). The input is referenced twice (the slim key scan
    + the join probe); both reads are column-pruned scans when the input
    is a source table."""
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    key = F.struct(*[F.col(c) for c in order_cols])
    slim = df.select(F.col(group_col), *[F.col(c) for c in order_cols])
    part = (
        slim.groupBy(F.col(group_col).alias("__g"), F.spark_partition_id().alias("__pid"))
        .agg(F.slice(F.sort_array(F.collect_list(key), asc=False), 1, k).alias("__top"))
        .select("__g", F.explode("__top").alias("__e"))
    )
    merged = part.groupBy("__g").agg(
        F.slice(F.sort_array(F.collect_list("__e"), asc=False), 1, k).alias("__top")
    )
    winners = merged.select(
        F.col("__g"), F.posexplode("__top").alias("__pos", "__e")
    ).select(
        F.col("__g").alias("__w_g"),
        *[F.col(f"__e.{c}").alias(f"__w_{c}") for c in order_cols],
        (F.col("__pos") + 1).cast("int").alias(rank_col),
    )
    # winners are k × n_groups rows; <=> (null-safe) keeps rows whose
    # ordering tuple contains NULLs joinable, matching sort_array's null
    # handling in the ranking phases
    from analyst_toolkit_spark.functions.stats import maybe_broadcast

    cond = df[group_col].eqNullSafe(F.col("__w_g"))
    for c in order_cols:
        cond = cond & df[c].eqNullSafe(F.col(f"__w_{c}"))
    return df.join(maybe_broadcast(winners), cond, "inner").drop(
        "__w_g", *[f"__w_{c}" for c in order_cols]
    )


# -- training-shard export -----------------------------------------------------
# The OUTPUT side of a curation pipeline: a training job does not read "a
# parquet table", it reads N shards of roughly equal token mass, each small
# enough for one loader worker, with a manifest saying what is in each. The
# assignment below is deterministic and engine-portable (md5 arithmetic /
# the distributed prefix sum), so a shard layout reproduces byte-for-byte
# across runs and is oracle-checkable end-to-end.


def global_shuffle(
    df: DataFrame,
    id_col: str | list[str] = "doc_id",
    salt: str = "",
    pos_col: str = "shuffle_pos",
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic seeded GLOBAL permutation of the corpus — the "shuffle
    the training stream" step that precedes shard writing: documents sorted
    by ``md5(id|salt)`` get positions ``0..N-1`` in that order, so feeding
    ``shard_assign``/``write_training_shards`` ordered by ``pos_col``
    produces a training stream with no residual source/id locality (the
    raw corpus is usually clustered by crawl order, and a locality-free
    stream is what loss-curve stability wants). Vary ``salt`` to draw an
    independent permutation per training run; the permutation is a pure
    function of ``(id, salt)`` — re-runs and input partitioning never
    change it, and the whole mapping reproduces in a SQL oracle
    (``row_number() OVER (ORDER BY md5(id||'|'||salt), id) - 1``).

    Plan shape at 100 TB: the md5 sort key is uniformly distributed, so the
    ONE ``repartitionByRange`` exchange inside the
    :func:`with_global_cumsum` prefix sum is perfectly balanced by
    construction (no skew salting needed — the key IS the salt); position
    assignment is the same two-phase distributed prefix sum every global
    order in this module rides, never a single-partition window. The id
    column breaks the (astronomically unlikely) md5 tie so the order key
    is provably unique, which the range-partitioned cumsum requires.

    ``id_col`` may be a LIST of columns when no single column is unique —
    e.g. after :func:`~analyst_toolkit_spark.llm.text.epoch_mix` the unique
    key is (id, epoch), and two epoch copies of one doc must land at
    independent positions (one md5 key would make their relative order
    ambiguous inside the range-partitioned cumsum).

    Output: input columns + ``pos_col`` (long, 0-based, a permutation of
    ``0..count-1``).
    """
    ids = [id_col] if isinstance(id_col, str) else list(id_col)
    keyed = df.withColumn(
        "__shuf_key",
        F.md5(F.concat_ws("|", *[F.col(c).cast("string") for c in ids], F.lit(salt))),
    ).withColumn("__shuf_one", F.lit(1))
    out = with_global_cumsum(
        keyed,
        "__shuf_one",
        ["__shuf_key", *ids],
        out_col="__shuf_cum",
        num_partitions=num_partitions,
    )
    return (
        out.withColumn(pos_col, (F.col("__shuf_cum") - 1).cast("long"))
        .drop("__shuf_key", "__shuf_one", "__shuf_cum")
    )


def shard_assign(
    df: DataFrame,
    n_shards: int,
    key: str = "text",
    id_col: str = "doc_id",
    tokens_col: str | None = None,
    mode: str = "balanced",
    salt: str = "",
) -> DataFrame:
    """Assign every document to one of ``n_shards`` training shards.

    ``mode="balanced"`` (default): contiguous token-balanced shards —
    documents are taken in ``id_col`` order and
    ``shard = floor(start_offset · n_shards / total_tokens)`` where
    ``start_offset`` is the exact global running token total BEFORE the doc
    (the :func:`with_global_cumsum` distributed prefix sum — no
    single-partition global window). Every shard lands within one document
    of the ideal token mass; the assignment is a pure function of the
    corpus, independent of partitioning.

    ``mode="hash"``: ``md5(id|salt)``-bucketed — token balance is only
    statistical, but the assignment is STABLE under corpus growth (a doc
    keeps its shard when neighbors are added/removed), which is what
    incremental corpus builds want. Same engine-portable md5 arithmetic as
    ``text.hash_split``.

    ``id_col`` must be UNIQUE in balanced mode (the prefix-sum walk order):
    after :func:`~analyst_toolkit_spark.llm.text.epoch_mix` the doc id no
    longer is — pass the :func:`global_shuffle` position instead, which is
    unique by construction and makes each shard a contiguous token-balanced
    slice of the permuted stream.

    Output: input columns + ``n_tokens`` (long) + ``shard`` (int).
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    toks = F.col(tokens_col) if tokens_col else token_count(key)
    # NULL text makes token_count NULL (or -1 under legacy sizeOfNull); either
    # would poison the prefix sum (null shard, or a negative offset flooring
    # to shard -1 and a shard=-1 directory outside the 0..n_shards-1
    # contract). Clamp to a non-negative token mass up front.
    wt = df.withColumn(
        "n_tokens", F.greatest(F.lit(0), F.coalesce(toks.cast("long"), F.lit(0)))
    )
    if mode == "hash":
        bucket = F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.col(id_col).cast("string"), F.lit(salt))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        return wt.withColumn("shard", (bucket % F.lit(int(n_shards))).cast("int"))
    if mode != "balanced":
        raise ValueError(f"unknown shard mode: {mode!r} (balanced | hash)")
    # r15 optimization round: the global token total is the sum of the
    # per-partition totals the prefix-sum pass collects anyway — asking
    # with_global_cumsum for it removes what used to be a separate full
    # tokenize-and-aggregate action over the un-materialized input (the
    # token_count regexp is the dominant map cost of this operator; it now
    # runs once, in the range-shuffle map pass, instead of twice).
    cum, total = with_global_cumsum(wt, "n_tokens", id_col, return_total=True)
    if total <= 0:
        return cum.withColumn("shard", F.lit(0)).drop(_CUM)
    shard = F.least(
        F.lit(int(n_shards) - 1),
        F.floor(
            (F.col(_CUM) - F.col("n_tokens")) * F.lit(int(n_shards)) / F.lit(float(total))
        ),
    )
    return cum.withColumn("shard", shard.cast("int")).drop(_CUM)


def shard_manifest(sharded: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-shard manifest: doc count, token mass, id range, and an
    ORDER-FREE content fingerprint: ``bit_xor`` of the first 60 md5 bits of
    each id. XOR is commutative AND overflow-free, so the fingerprint is
    partitioning-independent at ANY shard size — a 100 TB shard with
    millions of docs is exactly as safe as a unit-test shard (the earlier
    48-bit-term SUM overflowed a long past ~2^15 docs/shard, which under
    Spark 4's default ANSI mode would make the manifest THROW at production
    scale). 60 bits (15 hex chars) keeps the value positive in a signed
    long in every engine; DuckDB reproduces it with
    ``bit_xor(CAST(concat('0x', substr(md5(id),1,15)) AS UBIGINT))``.
    A training job checks its shard against this before it starts; a re-run
    proves layout identity by comparing manifests, never by re-reading
    data."""
    fp = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10).cast(
        "long"
    )
    return (
        sharded.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.min(id_col).alias("min_id"),
            F.max(id_col).alias("max_id"),
            F.bit_xor(fp).alias("content_fp"),
        )
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    key: str = "text",
    id_col: str = "doc_id",
    tokens_col: str | None = None,
    mode: str = "balanced",
    fmt: str = "parquet",
    write_mode: str = "overwrite",
) -> DataFrame:
    """Materialize the shard layout: ``path/shard=K/`` per shard (hive
    partition dirs — a loader reads exactly its own directory, nothing
    else; directory pruning is free for any later Spark scan), rows sorted
    by ``id_col`` within each shard for deterministic in-shard order, plus
    the manifest at ``path/_manifest`` (parquet — it IS a table). Returns
    the manifest DataFrame.

    The frame is repartitioned ON the shard column before the write so each
    shard is written by one task (one file per shard dir at any scale —
    pick ``n_shards`` so a shard fits a loader worker, which also keeps the
    write task bounded). The assignment is computed once behind the prefix
    sum's materialization; write and manifest read the same lineage.
    """
    sharded = shard_assign(
        df, n_shards, key=key, id_col=id_col, tokens_col=tokens_col, mode=mode
    )
    (
        sharded.repartition(int(n_shards), F.col("shard"))
        # leading with the partition column satisfies FileFormatWriter's
        # required ordering exactly, so the documented in-shard id order is
        # guaranteed by construction instead of depending on the stability
        # of a writer-inserted sort on 'shard'
        .sortWithinPartitions("shard", id_col)
        .write.partitionBy("shard")
        .mode(write_mode)
        .format(fmt)
        .save(path)
    )
    manifest = shard_manifest(sharded, id_col=id_col)
    manifest.write.mode(write_mode).parquet(f"{path.rstrip('/')}/_manifest")
    return manifest
