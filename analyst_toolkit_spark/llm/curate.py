"""End-to-end corpus curation — the LLM training-data pipeline as ONE
chain over the operators in this package.

Mirrors what plans/pipeline.py is for the QA modules: each stage is optional,
config-driven, and composes on one DataFrame that flows through, with a
lineage cut after each stage that references it twice (see
:func:`curate_corpus` for what the cuts run). The stage order is the one
production pipelines use:

  clean (strip_html) → PII scrub (redact before anything fingerprints)
  → quality gate (score / repetition / language)
  → classifier gate (pinned-weight logreg margin, map-only)
  → exact dedup (normalized fingerprint, keep smallest id)
  → near dedup (MinHash-LSH pairs → connected components → representatives)
  → semantic dedup (embedding hyperplane-LSH → exact original-space cosine
    verify → components → min-id survivor; SemDeDup, when embeddings present)
  → containment drop (subset docs >= threshold contained in a larger doc)
  → span removal (cross-document exact-substring spans cut from survivors)
  → char-LM gate (CCNet-style mean-probability threshold vs a reference)
  → decontaminate (benchmark n-gram overlap)
  → semantic decontaminate (embedding cosine vs eval vectors — the
    paraphrase-contamination net the n-gram check can't catch)
  → weighted sample (deterministic md5-uniform)
  → split (stable md5-bucket train/val/test)
  → pack (token-budget sequence assignment)

Every stage is deterministic — given the same input and config, the curated
corpus is byte-identical across runs and partitionings, which is what makes
incremental corpus builds diffable.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from analyst_toolkit_spark.llm import dedup as D
from analyst_toolkit_spark.llm import pack as P
from analyst_toolkit_spark.llm import text as T
from analyst_toolkit_spark.sources import io as S_io


@dataclass
class CurationConfig:
    key: str = "text"
    id_col: str = "doc_id"
    strip_html: bool = False
    #: PII scrub (text.redact_pii): replace email/phone/URL matches with
    #: <TAG> sentinels BEFORE anything fingerprints or scores the text —
    #: redaction changes bytes, so it must precede dedup (two docs equal up
    #: to a PII value become exact duplicates after the scrub, which is the
    #: desired identity). Map-only regexp_replace; ``pii_patterns`` overrides
    #: the default {email, phone, url} set (RE2-compatible, cross-engine).
    redact_pii: bool = False
    pii_patterns: dict[str, str] | None = None
    #: RefinedWeb/C4-style line-level boilerplate removal (text.line_dedup):
    #: lines (text between ``line_dedup_sep`` occurrences) found in >=
    #: line_dedup_min_docs DISTINCT documents corpus-wide are cut from every
    #: document BEFORE the quality gates (nav bars / cookie banners inflate
    #: repetition and deflate quality, so cleaning precedes scoring — the
    #: RefinedWeb §3.2 order). Self-referencing (the census is built from the
    #: corpus), so the chain cuts lineage before it. Docs whose every line
    #: was boilerplate are dropped.
    line_dedup_min_docs: int | None = None
    line_dedup_sep: str = "\n"
    #: CHUNK-level boilerplate removal (text.cdc_chunk_dedup — r15, r14
    #: VERDICT #5): content-defined chunks (rolling-hash boundaries, so
    #: boilerplate that SHIFTS within the page still hashes identically)
    #: found in >= chunk_dedup_min_docs distinct documents are treated as
    #: boilerplate. Runs beside line_dedup in the pre-quality cleaning
    #: block — the shift-resistant complement for boilerplate that is not
    #: line-aligned. ``chunk_dedup_mode``: "cut" (default) removes the
    #: boilerplate chunks and reassembles each doc (docs reduced to ''
    #: drop); "drop" removes every doc that CONTAINS a boilerplate chunk
    #: (the conservative policy when partial docs are unacceptable).
    #: Chunk geometry knobs mirror text.cdc_chunks; min_size == max_size
    #: degenerates to fixed-stride chunks (the SQL-replayable construction
    #: the driver row uses). NB the census counts DISTINCT DOCS, and this
    #: stage runs BEFORE exact_dedup (cleaning precedes fingerprinting):
    #: full-copy duplicate documents therefore cut EACH OTHER's bodies at
    #: min_docs=2 — set min_docs above the corpus duplication multiplicity
    #: if whole-copy dedup should be left to the exact_dedup stage.
    chunk_dedup_min_docs: int | None = None
    chunk_dedup_mode: str = "cut"
    chunk_window: int = 16
    chunk_mask_bits: int = 6
    chunk_min_size: int = 32
    chunk_max_size: int = 512
    min_quality: float | None = None
    max_repetition: float | None = None
    languages: list[str] | None = None
    #: pinned logreg weights (llm/classify.FEATURE_NAMES order) enable the
    #: fastText-stage gate: keep docs with margin > classifier_threshold.
    #: Map-only — composes into whatever scan precedes it.
    classifier_weights: list[float] | None = None
    classifier_threshold: float = 0.0
    #: DSIR importance-weighted selection (llm/select, Xie et al. NeurIPS
    #: 2023): when a target corpus is set, keep docs whose hashed-unigram
    #: log importance weight against it exceeds ``dsir_min_weight``
    #: (0.0 = the geometric break-even: more target-like than raw-like).
    #: Runs after the heuristic/classifier gates and before dedup — the
    #: published pipeline order (select the pool, then dedup the keepers).
    dsir_target: DataFrame | None = None
    dsir_min_weight: float = 0.0
    dsir_buckets: int = 1024
    dsir_alpha: float = 0.5
    exact_dedup: bool = True
    near_dedup_threshold: float | None = None  # e.g. 0.8 enables MinHash stage
    #: Near-dedup ENGINE (r8 VERDICT #3): "auto" (default) is the production
    #: path — the candidate-volume gate over xxhash signatures with Jaccard
    #: verification. "md5_buckets" is the cross-engine deterministic path:
    #: raw md5 bucket clustering (``bucket_components`` with
    #: ``near_dedup_k``/``near_dedup_bands``, NO verification, no gate) —
    #: every surviving byte reproducible in any engine with md5, which is
    #: what lets the WHOLE chain be oracle-verified end-to-end
    #: (``near_dedup_threshold`` still arms the stage but is not applied:
    #: bucket connectivity alone decides clusters). Applies to BOTH the
    #: near-dedup stage and the leakage_safe split clustering.
    near_dedup_engine: str = "auto"
    near_dedup_k: int = 8
    near_dedup_bands: int = 4
    #: which member of a near-dup cluster survives: "min_id" (default,
    #: cheapest) or "best_quality" — the member with the highest
    #: text.quality_score (ties to smallest id), so the clean page outlives
    #: its boilerplate-mangled copies. One extra component-keyed aggregate.
    near_dedup_keep: str = "min_id"
    #: Broder containment subset-drop policy (r10 VERDICT #1 — the reason
    #: dedup.containment_pairs exists): drop every doc whose distinct
    #: ``containment_n``-gram set is >= this threshold contained in a
    #: strictly LARGER doc (equal sizes tie to the smaller id) — quotes,
    #: partial copies, page-subsets that symmetric near-dedup keeps. Runs
    #: POST-near-dedup, where the Σnd(nd−1) pair census is guaranteed cheap
    #: (near-dup copies pair quadratically; over survivors the candidate
    #: volume is the organic overlap only).
    containment_drop_threshold: float | None = None
    containment_n: int = 8
    containment_pair_cap: int | None = None
    #: SemDeDup embedding-aware near-dedup stage (r11 VERDICT #1 — the last
    #: integration gap): when the frame carries ``embedding_col``, drop every
    #: doc whose ORIGINAL-space cosine to a kept doc is >= this threshold
    #: (hyperplane-LSH candidates -> exact cosine verify -> connected
    #: components -> min-id survivor, llm/similarity.semantic_dedup). Catches
    #: paraphrases and templated rewrites whose token shingles differ — the
    #: duplicates the lexical near-dedup keeps. Runs right AFTER the lexical
    #: near-dedup (both are near-dedup policies; embedding identity is the
    #: stricter-capture one) behind its own lineage cut.
    semantic_dedup_threshold: float | None = None
    embedding_col: str = "embedding"
    #: SemDeDup paper recipe: bucket hyperplanes in the ``semantic_pca_dims``
    #: top-variance subspace (fit over the surviving frame) while the cosine
    #: verify stays on the original vectors — a recall knob, never a
    #: correctness one.
    semantic_pca_dims: int | None = None
    semantic_n_planes: int = 8
    #: Multi-table LSH recall dial for the semantic-dedup stage (r15, r14
    #: VERDICT #6): > 1 ORs candidates across this many independent plane
    #: families (similarity.lsh_multi_table_pairs — miss probability falls
    #: from (1-p) to (1-p)^T; precision stays 1, the exact original-space
    #: verify is unchanged). Costs ~T x the bucket-join volume — spend
    #: tables when paraphrase-mirror recall matters, not by default.
    semantic_n_tables: int = 1
    #: which member of a semantic cluster survives — "min_id" (default) or
    #: "best_quality" (highest text.quality_score, ties to smallest id):
    #: the same survivor-election contract as ``near_dedup_keep``, because
    #: a paraphrase cluster's keeper should be the clean page, not the
    #: lowest id. One extra component-keyed argmax aggregate (labels +
    #: score only — text never shuffles).
    semantic_keep: str = "min_id"
    #: census-before-quadratic-join gate for the semantic stage's bucket
    #: self-join (the same pair_cap contract as the lexical near-dedup and
    #: containment stages): Σ c·(c−1)/2 over hyperplane buckets must stay
    #: under this before the join is attempted.
    semantic_pair_cap: int | None = None
    #: n-gram length enables exact-substring span REMOVAL on the dedup
    #: survivors (llm/dedup.remove_repeated_spans): cross-document repeated
    #: token runs are cut from every doc; the text column becomes the cleaned
    #: token form. Self-referencing (span set is built from the corpus) — the
    #: chain cuts lineage before it like the other two-subtree stages.
    span_dedup_n: int | None = None
    span_min_docs: int = 2
    #: char-LM quality gate (llm/lm): keep docs whose mean conditional
    #: trigram probability under a model trained on ``lm_reference`` (or the
    #: running corpus itself when None) is >= min_lm_prob. Docs whose
    #: normalized text is shorter than the gram length produce no score and
    #: are dropped by this gate.
    min_lm_prob: float | None = None
    lm_reference: DataFrame | None = None
    benchmark: DataFrame | None = None
    max_benchmark_overlap: float = 0.5
    #: "drop" removes whole contaminated docs (overlap > max_benchmark_overlap);
    #: "spans" cuts only the benchmark-overlapping token spans
    #: (llm/dedup.remove_contaminated_spans) and keeps the untainted
    #: remainder — the text column becomes the cleaned token form, and docs
    #: left with zero tokens are dropped.
    decontaminate_mode: str = "drop"
    decontaminate_ngram: int = 8
    #: SEMANTIC decontamination (r12 — llm/similarity.semantic_decontaminate):
    #: a frame of benchmark/eval EMBEDDINGS; every surviving doc whose
    #: ``embedding_col`` cosine to ANY benchmark vector reaches
    #: ``semantic_decon_threshold`` is dropped. Catches eval items that were
    #: paraphrased into the corpus — where no token n-gram survives for the
    #: lexical decontaminate stage to see. In the default "literal" tier the
    #: benchmark rides the plan as a bounded literal
    #: (``semantic_decon_max_benchmark``, fail-loud past it; see
    #: ``semantic_decon_tier`` for the in-chain LSH tier / auto fallback),
    #: so the stage is MAP-ONLY: zero shuffle, zero join, composes
    #: into whatever scan precedes it. Requires ``embedding_col`` on the
    #: frame (fails loudly otherwise). ``semantic_benchmark_vec_col`` names
    #: the benchmark frame's vector column when it differs.
    semantic_benchmark: DataFrame | None = None
    semantic_decon_threshold: float = 0.95
    semantic_decon_max_benchmark: int = 2048
    semantic_benchmark_vec_col: str | None = None
    #: Which decontamination tier runs (r12 VERDICT #4): "literal" ships the
    #: benchmark inside the plan (zero-shuffle map-only scan — the default,
    #: right for eval suites up to ~thousands of vectors at moderate dims);
    #: "lsh" buckets BOTH sides with shared hyperplanes and exact-verifies
    #: same-bucket candidates (similarity.semantic_decontaminate_lsh — the
    #: big-benchmark tier, e.g. a full benchmark-suite dump or high-dim
    #: embeddings past the literal tier's plan-size cap); "auto" picks
    #: "literal" when the benchmark fits BOTH caps (count and n×dim cells),
    #: else falls back to "lsh" — no more fail-then-rerun-outside-the-chain.
    #: LSH-tier knobs: ``semantic_decon_n_planes`` (bucket geometry) and
    #: ``semantic_decon_pair_cap`` (bipartite candidate census gate —
    #: Σ c_corpus·c_bench refused up front, the standing rule).
    semantic_decon_tier: str = "literal"
    semantic_decon_n_planes: int = 8
    semantic_decon_pair_cap: int | None = None
    sample_weight: str | None = None  # column name; None disables
    splits: dict[str, float] | None = None
    #: "hash" (default) assigns each surviving row independently by md5
    #: bucket; "leakage_safe" first clusters the remaining near-duplicates
    #: (the same auto-gated MinHash machinery as the near-dedup stage, over
    #: whatever rows reach the split) and routes every cluster member to its
    #: representative's bucket (text.leakage_safe_split) — closing the
    #: train/test contamination vector when the chain is configured to KEEP
    #: near-duplicates (no near_dedup stage). After a near-dedup stage
    #: survivors are cluster-unique and this degrades to the plain split at
    #: the cost of one extra banding pass — prefer "hash" there.
    split_mode: str = "hash"
    #: Jaccard threshold for the leakage_safe clustering (defaults to
    #: near_dedup_threshold when that is set, else 0.8).
    split_cluster_threshold: float | None = None
    #: Fractional-epoch recipe UPsampling (r13 — text.epoch_mix): a float
    #: repeats the whole surviving corpus (1.5 = every doc once, half the
    #: docs twice, md5-gated), a dict keyed by ``epoch_source_col`` gives
    #: per-source epochs (wiki x2.5, web x0.6 style; unlisted sources
    #: DROP). Runs AFTER the split stage — every epoch copy of a doc
    #: inherits the doc's split, so repetition can never straddle
    #: train/test — and before packing; each copy carries ``epoch`` in
    #: 0..copies-1, and downstream stages key on (id, epoch).
    epochs: float | dict | None = None
    epoch_source_col: str = "source"
    #: strict per-source epochs (r13 ADVICE): raise in-plan when a row's
    #: source has no dict entry instead of silently dropping it (rate 0).
    #: 'epoch' and 'shuffle_pos' are RESERVED output columns of the epochs /
    #: shuffle stages — inputs already carrying them raise.
    epoch_strict: bool = False
    #: Seeded global training-stream shuffle (r13 — pack.global_shuffle):
    #: when set, the surviving (possibly epoch-expanded) corpus gets a
    #: deterministic global permutation position ``shuffle_pos`` keyed on
    #: md5(id[, epoch] | salt), and the packing stage WALKS THE PERMUTED
    #: ORDER instead of id order — locality-free training sequences (raw
    #: corpora are crawl-ordered). Vary per training run for an
    #: independent permutation.
    shuffle_salt: str | None = None
    pack_budget: int | None = None
    report_counts: bool = False  # per-stage count() actions (full scans)
    #: Collect a per-group pre-training data card (text.corpus_data_card:
    #: docs/tokens/quality/global-dup-membership/lang-agreement) for the
    #: INPUT and the curated OUTPUT into the report — "what did curation do
    #: to my corpus", the summary a dataset owner reads first. Two extra
    #: full-scan actions, so opt-in like report_counts. ``data_card_by``
    #: must be a column of the frame; the language-agreement column is
    #: included only when a ``lang`` column exists.
    report_data_card: bool = False
    data_card_by: str = "source"
    #: Cut lineage after each self-referencing stage (``sources.io.cut``).
    #: The dedup/decontaminate stages reference the running frame in TWO
    #: subtrees (the keep-set build and the semi-join back); without a cut
    #: every later stage recomputes the whole upstream chain once per
    #: reference — multiplicative blowup, measured 142 s -> ~30 s on the 10x
    #: corpus.
    checkpoint: bool = True
    #: Durable checkpoint directory. localCheckpoint blocks are executor-local
    #: — lost on executor failure, which on a long 100 TB chain means a
    #: mid-pipeline crash restarts from the raw scan. With ``checkpoint_dir``
    #: set, each lineage cut is a *reliable* parquet round-trip under this
    #: directory instead (survives executor loss; resumable). Prefer an
    #: object-store / HDFS path in production.
    checkpoint_dir: str | None = None


def curate_corpus(df: DataFrame, cfg: CurationConfig | None = None, **overrides):
    """Run the curation chain. Returns ``(curated_df, report)`` where report
    maps stage name → config applied (+ row counts when
    ``report_counts=True``). Stages not configured are skipped entirely.
    The chain is not one lazy plan: each lineage cut (``sources.io.cut``)
    runs its subtree's shuffle stages during this call — the local cut
    before it returns, the durable cut as a parquet write whose later read
    scans only the written files — so most of the chain's jobs run here
    (28 of 30 in the curate case of ``tests/test_lineage_cut.py``) and the
    caller's action runs the rest."""
    cfg = cfg or CurationConfig()
    for k, v in overrides.items():
        setattr(cfg, k, v)
    key, id_col = cfg.key, cfg.id_col
    if cfg.near_dedup_engine not in ("auto", "md5_buckets"):
        # fail loudly: a typo here would silently swap the deterministic
        # audit clustering for the production gate (or vice versa)
        raise ValueError(f"unknown near_dedup_engine: {cfg.near_dedup_engine!r}")
    if cfg.near_dedup_engine == "md5_buckets" and dict(df.dtypes).get(id_col) not in (
        "tinyint", "smallint", "int", "bigint"
    ):
        # mirror the id_integral gate in near_dedup_components: bucket_components
        # casts id_col to long, so a string/binary id would silently NULL out and
        # drop every edge while the report still claims method='md5_buckets'.
        raise ValueError(
            f"near_dedup_engine='md5_buckets' requires an integral id column; "
            f"{id_col!r} is {dict(df.dtypes).get(id_col)!r}"
        )
    report: dict[str, dict] = {}
    out = df
    split_comps: DataFrame | None = None  # set by the leakage_safe split stage

    def _record(stage: str, **info):
        if cfg.report_counts:
            info["rows"] = out.count()
        report[stage] = info

    stages = itertools.count(1)

    def _cut(frame: DataFrame) -> DataFrame:
        if not (cfg.checkpoint or cfg.checkpoint_dir):
            return frame
        return S_io.cut(frame, durable_dir=cfg.checkpoint_dir, name=f"stage_{next(stages):02d}")

    def _data_card(frame: DataFrame, components: DataFrame | None = None) -> list[dict]:
        if cfg.data_card_by not in frame.columns:
            raise ValueError(
                f"report_data_card: column {cfg.data_card_by!r} not in frame "
                f"(columns: {frame.columns})"
            )
        lang = "lang" if "lang" in frame.columns else None
        card = T.corpus_data_card(
            frame, by=cfg.data_card_by, key=key, lang_col=lang,
            components=components, id_col=id_col,
        )
        return [r.asDict() for r in card.orderBy(cfg.data_card_by).collect()]

    _record("input")
    if cfg.report_data_card:
        report["input"]["data_card"] = _data_card(out)

    if cfg.strip_html:
        out = out.withColumn(key, T.strip_html(key))
        _record("clean", op="strip_html")

    if cfg.redact_pii:
        pats = cfg.pii_patterns or {
            "email": T.EMAIL_RE, "phone": T.PHONE_RE, "url": T.URL_RE
        }
        # surgery only: the per-tag n_<tag> count columns redact_pii appends
        # are a census concern (the pii_redact_docs row), not chain schema
        out = T.redact_pii(out, col=key, patterns=pats).drop(
            *[f"n_{t}" for t in pats]
        )
        _record("redact_pii", patterns=sorted(pats))

    if cfg.line_dedup_min_docs is not None:
        out = _cut(out)  # census + removal reference the frame twice
        cleaned = T.line_dedup(
            out, id_col=id_col, text_col=key,
            sep=cfg.line_dedup_sep, min_docs=cfg.line_dedup_min_docs,
        ).select(id_col, "clean_text")
        # inner join: fully-boilerplate docs (absent from line_dedup's
        # output) drop out of the corpus here, every other column survives
        out = out.join(cleaned, id_col).withColumn(key, F.col("clean_text")).drop("clean_text")
        _record("line_dedup", sep=cfg.line_dedup_sep, min_docs=cfg.line_dedup_min_docs)

    if cfg.chunk_dedup_min_docs is not None:
        if cfg.chunk_dedup_mode not in ("cut", "drop"):
            raise ValueError(f"unknown chunk_dedup_mode: {cfg.chunk_dedup_mode!r}")
        out = _cut(out)  # census + join-back reference the frame twice
        chunked = T.cdc_chunk_dedup(
            out, col=key, id_col=id_col, min_docs=cfg.chunk_dedup_min_docs,
            window=cfg.chunk_window, mask_bits=cfg.chunk_mask_bits,
            min_size=cfg.chunk_min_size, max_size=cfg.chunk_max_size,
        )
        if cfg.chunk_dedup_mode == "drop":
            # conservative policy: any boilerplate chunk disqualifies the doc
            keep_ids = chunked.filter(F.col("n_cut") == 0).select(id_col)
            out = out.join(keep_ids, id_col, "left_semi")
        else:
            cleaned = chunked.filter(F.length("clean_text") > 0).select(
                id_col, "clean_text"
            )
            # inner join: fully-boilerplate docs drop out here, every other
            # column survives (the line_dedup stage shape)
            out = (
                out.join(cleaned, id_col)
                .withColumn(key, F.col("clean_text"))
                .drop("clean_text")
            )
        _record(
            "chunk_dedup", mode=cfg.chunk_dedup_mode,
            min_docs=cfg.chunk_dedup_min_docs,
            chunk=[cfg.chunk_window, cfg.chunk_mask_bits,
                   cfg.chunk_min_size, cfg.chunk_max_size],
        )

    quality_preds = []
    if cfg.min_quality is not None:
        quality_preds.append(T.quality_score(key) >= cfg.min_quality)
    if cfg.max_repetition is not None:
        quality_preds.append(T.repetition_score(key) <= cfg.max_repetition)
    if cfg.languages:
        quality_preds.append(T.detect_language(key).isin(list(cfg.languages)))
    if quality_preds:
        pred = quality_preds[0]
        for p in quality_preds[1:]:
            pred = pred & p
        out = out.filter(pred)
        _record(
            "quality_gate",
            min_quality=cfg.min_quality,
            max_repetition=cfg.max_repetition,
            languages=cfg.languages,
        )

    if cfg.classifier_weights is not None:
        from analyst_toolkit_spark.llm import classify as C

        # project features first (the expression-duplication rule), filter on
        # the literal-weight margin, drop the scratch column — still map-only
        out = (
            out.withColumn("__feat", C.quality_features(key))
            .filter(C._dot_lit("__feat", cfg.classifier_weights) > cfg.classifier_threshold)
            .drop("__feat")
        )
        _record("classifier_gate", threshold=cfg.classifier_threshold)

    if cfg.dsir_target is not None:
        from analyst_toolkit_spark.llm import select as SEL

        # referenced by the scoring build AND the semi-join back — cut first
        # (dsir_logweights cuts its own (doc, bucket) aggregate internally)
        out = _cut(out)
        w = SEL.dsir_logweights(
            out, cfg.dsir_target, key=key, id_col=id_col,
            buckets=cfg.dsir_buckets, alpha=cfg.dsir_alpha,
        )
        keep = w.filter(F.col("log_weight") > cfg.dsir_min_weight).select(id_col)
        out = out.join(keep, id_col, "left_semi")
        _record(
            "dsir_select", buckets=cfg.dsir_buckets, alpha=cfg.dsir_alpha,
            min_weight=cfg.dsir_min_weight,
        )

    # Each of the next three stages references the running frame in TWO
    # subtrees (the keep-set build and the join back), so the cut goes
    # BEFORE the stage: both subtrees then read one materialization instead
    # of each re-paying the whole upstream chain (cutting only after the
    # join, as pre-r6, still recomputed the quality gate once per subtree —
    # measured 28 -> ~18 s on the sf0.1 8-stage chain).
    if cfg.exact_dedup:
        out = _cut(out)
        # keep the smallest id per normalized fingerprint — one shuffle on
        # the (short) fingerprint key
        fp = T.fingerprint(F.col(key)).alias("__fp")
        keep = (
            out.select(F.col(id_col), fp)
            .groupBy("__fp")
            .agg(F.min(id_col).alias(id_col))
            .select(id_col)
        )
        out = out.join(keep, id_col, "left_semi")
        _record("exact_dedup", method="normalized_fingerprint_keep_min_id")

    if cfg.near_dedup_threshold is not None:
        out = _cut(out)
        # strategy gate (r6 VERDICT #5): a bucket-size census estimates the
        # candidate-pair volume; above the cap the linear bucket-components +
        # star-verify path replaces output-bound pair materialization (the
        # measured 100x-duplication crossover). The chosen path is recorded.
        # engine="md5_buckets" (r8 VERDICT #3) bypasses the gate entirely:
        # raw md5 bucket clustering, cross-engine reproducible.
        cc_dir = (
            f"{cfg.checkpoint_dir.rstrip('/')}/near_dedup_cc" if cfg.checkpoint_dir else None
        )
        score_col = None
        if cfg.near_dedup_keep == "best_quality":
            # the survivor is the highest-quality member, not the min id:
            # score projected once, threaded through the gate, dropped after
            out = out.withColumn("__ndq", T.quality_score(F.col(key)))
            score_col = "__ndq"
        if cfg.near_dedup_engine == "md5_buckets":
            comps = D.bucket_components(
                out, key=key, id_col=id_col, k=cfg.near_dedup_k,
                bands=cfg.near_dedup_bands, method="md5", checkpoint_dir=cc_dir,
            )
            out = D.dedup_from_components(out, comps, id_col=id_col, score_col=score_col)
            strategy = "md5_buckets"
        else:
            out, strategy = D.dedup_representatives_auto(
                out, key=key, id_col=id_col, threshold=cfg.near_dedup_threshold,
                checkpoint_dir=cc_dir, score_col=score_col,
            )
        if score_col is not None:
            out = out.drop(score_col)
        _record(
            "near_dedup", method=strategy, threshold=cfg.near_dedup_threshold,
            keep=cfg.near_dedup_keep,
        )

    if cfg.semantic_dedup_threshold is not None:
        from analyst_toolkit_spark.llm import similarity as SIM

        if cfg.embedding_col not in out.columns:
            # fail loudly: silently skipping the armed stage would ship a
            # corpus the caller believes is semantically deduplicated
            raise ValueError(
                f"semantic_dedup_threshold set but embedding column "
                f"{cfg.embedding_col!r} not in frame (columns: {out.columns})"
            )
        out = _cut(out)  # referenced twice: LSH pair build + the comps join back
        first = (
            out.select(F.size(cfg.embedding_col).alias("__d"))
            .filter(F.col("__d") > 0)
            .first()
        )
        if first is None:
            raise ValueError(
                f"semantic_dedup: no non-empty vectors in {cfg.embedding_col!r}"
            )
        cc_dir = (
            f"{cfg.checkpoint_dir.rstrip('/')}/semantic_cc" if cfg.checkpoint_dir else None
        )
        sd = SIM.semantic_dedup(
            out, int(first["__d"]), vec_col=cfg.embedding_col, id_col=id_col,
            n_planes=cfg.semantic_n_planes, threshold=cfg.semantic_dedup_threshold,
            checkpoint_dir=cc_dir, pca_dims=cfg.semantic_pca_dims,
            pair_cap=cfg.semantic_pair_cap, n_tables=cfg.semantic_n_tables,
        )
        if cfg.semantic_keep == "best_quality":
            # argmax(quality, -id) per component over the audit labels
            # (singletons elect themselves) — the dedup_representatives_by
            # shape: one component-keyed struct-max, then a semi-join back
            idt = dict(sd.dtypes)[id_col]
            winners = (
                sd.select(
                    "component",
                    T.quality_score(F.col(key)).alias("__sdq"),
                    F.col(id_col).cast("long").alias("__sid"),
                )
                .groupBy("component")
                .agg(F.max(F.struct(F.col("__sdq"), (-F.col("__sid")).alias("__negid"))).alias("__w"))
                .select((-F.col("__w.__negid")).cast(idt).alias(id_col))
            )
            out = sd.drop("component", "is_rep").join(winners, id_col, "left_semi")
        elif cfg.semantic_keep == "min_id":
            out = sd.filter(F.col("is_rep")).drop("component", "is_rep")
        else:
            raise ValueError(f"unknown semantic_keep: {cfg.semantic_keep!r}")
        _record(
            "semantic_dedup", threshold=cfg.semantic_dedup_threshold,
            embedding_col=cfg.embedding_col, n_planes=cfg.semantic_n_planes,
            pca_dims=cfg.semantic_pca_dims, keep=cfg.semantic_keep,
            n_tables=cfg.semantic_n_tables,
        )

    if cfg.containment_drop_threshold is not None:
        out = _cut(out)  # referenced twice: the pair build + the anti-join back
        drops = D.containment_subset_ids(
            out, key=key, id_col=id_col, n=cfg.containment_n,
            threshold=cfg.containment_drop_threshold,
            pair_cap=cfg.containment_pair_cap,
        )
        out = out.join(drops, id_col, "left_anti")
        _record(
            "containment_drop", n=cfg.containment_n,
            threshold=cfg.containment_drop_threshold,
        )

    if cfg.span_dedup_n:
        out = _cut(out)
        clean = D.remove_repeated_spans(
            out, id_col=id_col, text_col=key, n=cfg.span_dedup_n, min_docs=cfg.span_min_docs
        ).select(id_col, "clean_text")
        # every input doc appears in remove_repeated_spans' output (no-span
        # docs pass through verbatim as their token form), so an inner join
        # preserves the corpus
        out = out.join(clean, id_col).withColumn(key, F.col("clean_text")).drop("clean_text")
        _record("span_removal", n=cfg.span_dedup_n, min_docs=cfg.span_min_docs)

    if cfg.min_lm_prob is not None:
        from analyst_toolkit_spark.llm import lm as LM

        ref = cfg.lm_reference
        if ref is None:
            out = _cut(out)  # self-training references the frame twice
            ref = out
        model = LM.train_char_lm(ref, key=key)
        keep_ids = (
            LM.charlm_score(out, model, key=key, id_col=id_col)
            .filter(F.col("mean_prob") >= cfg.min_lm_prob)
            .select(id_col)
        )
        out = out.join(keep_ids, id_col, "left_semi")
        _record(
            "charlm_gate",
            min_lm_prob=cfg.min_lm_prob,
            reference="external" if cfg.lm_reference is not None else "self",
        )

    if cfg.benchmark is not None:
        out = _cut(out)
        if cfg.decontaminate_mode == "spans":
            # span surgery: cut benchmark-overlapping token runs, keep the
            # untainted remainder; fully-contaminated docs (0 tokens) drop
            cleaned = D.remove_contaminated_spans(
                out, cfg.benchmark, id_col=id_col, text_col=key,
                n=cfg.decontaminate_ngram,
            )
            keep = cleaned.filter(F.col("kept_tokens") > 0).select(
                id_col, F.col("clean_text").alias(key)
            )
            other_cols = [c for c in out.columns if c not in (id_col, key)]
            out = out.drop(key).join(keep, id_col, "inner").select(
                id_col, key, *other_cols
            )
            _record(
                "decontaminate", mode="spans", n=cfg.decontaminate_ngram
            )
        else:
            cont = T.decontaminate(
                out, cfg.benchmark, key=key, id_col=id_col,
                threshold=cfg.max_benchmark_overlap,
            )
            clean_ids = cont.filter(~F.col("contaminated")).select(id_col)
            out = out.join(clean_ids, id_col, "left_semi")
            _record(
                "decontaminate", mode="drop", max_overlap=cfg.max_benchmark_overlap
            )

    if cfg.semantic_benchmark is not None:
        from analyst_toolkit_spark.llm import similarity as S

        if cfg.embedding_col not in out.columns:
            raise ValueError(
                f"semantic_benchmark set but embedding column "
                f"{cfg.embedding_col!r} not in frame (columns: {out.columns})"
            )
        bvc = cfg.semantic_benchmark_vec_col or cfg.embedding_col
        tier = cfg.semantic_decon_tier
        if tier not in ("literal", "lsh", "auto"):
            raise ValueError(
                f"semantic_decon_tier must be literal | lsh | auto, got {tier!r}"
            )
        if tier == "auto":
            # literal only when the benchmark fits BOTH caps: vector count
            # (bounded collect) and n×dim plan-literal cells; else LSH.
            head = (
                cfg.semantic_benchmark.select(F.size(F.col(bvc)).alias("d"))
                .limit(cfg.semantic_decon_max_benchmark + 1)
                .collect()
            )
            bdim = next((int(r["d"]) for r in head if r["d"] and r["d"] > 0), 0)
            fits = (
                len(head) <= cfg.semantic_decon_max_benchmark
                and len(head) * bdim <= S.DECON_BENCH_MAX_CELLS
            )
            tier = "literal" if fits else "lsh"
        if tier == "literal":
            flagged = S.semantic_decontaminate(
                out,
                cfg.semantic_benchmark,
                threshold=cfg.semantic_decon_threshold,
                vec_col=cfg.embedding_col,
                bench_vec_col=cfg.semantic_benchmark_vec_col,
                max_benchmark=cfg.semantic_decon_max_benchmark,
            )
        else:
            # the LSH tier references the running frame in two subtrees
            # (bucket build + hit join-back) — cut lineage like the other
            # two-subtree stages so upstream work isn't recomputed.
            out = _cut(out)
            dim_row = (
                cfg.semantic_benchmark.select(F.size(F.col(bvc)).alias("d"))
                .filter(F.col("d") > 0)
                .first()
            )
            if dim_row is None:
                raise ValueError(
                    "semantic_decontaminate (lsh tier): empty benchmark set"
                )
            flagged = S.semantic_decontaminate_lsh(
                out,
                cfg.semantic_benchmark,
                dim=int(dim_row["d"]),
                threshold=cfg.semantic_decon_threshold,
                vec_col=cfg.embedding_col,
                id_col=id_col,
                bench_vec_col=cfg.semantic_benchmark_vec_col,
                n_planes=cfg.semantic_decon_n_planes,
                pair_cap=cfg.semantic_decon_pair_cap,
            )
        # null max_bench_cosine (null corpus vector, or no shared bucket in
        # the LSH tier) keeps the row — an unembedded doc is un-checkable,
        # not contaminated; the literal tier needs no lineage cut (the
        # benchmark is an independent frame; map-only filter).
        out = flagged.filter(
            ~F.coalesce(F.col("contaminated"), F.lit(False))
        ).drop("max_bench_cosine", "contaminated")
        _record(
            "semantic_decontaminate",
            tier=tier,
            threshold=cfg.semantic_decon_threshold,
            embedding_col=cfg.embedding_col,
        )

    if cfg.sample_weight is not None:
        out = T.weighted_sample(out, cfg.sample_weight, id_col=id_col)
        _record("weighted_sample", weight_col=cfg.sample_weight)

    if cfg.splits:
        if cfg.split_mode == "leakage_safe":
            out = _cut(out)  # referenced twice: clustering build + split join
            thr = (
                cfg.split_cluster_threshold
                if cfg.split_cluster_threshold is not None
                else (cfg.near_dedup_threshold if cfg.near_dedup_threshold is not None else 0.8)
            )
            cc_dir = (
                f"{cfg.checkpoint_dir.rstrip('/')}/split_cc" if cfg.checkpoint_dir else None
            )
            if cfg.near_dedup_engine == "md5_buckets":
                comps = D.bucket_components(
                    out, key=key, id_col=id_col, k=cfg.near_dedup_k,
                    bands=cfg.near_dedup_bands, method="md5", checkpoint_dir=cc_dir,
                )
                strategy = "md5_buckets"
            else:
                comps, strategy = D.near_dedup_components(
                    out, key=key, id_col=id_col, threshold=thr, checkpoint_dir=cc_dir
                )
            out = T.leakage_safe_split(out, comps, id_col=id_col, splits=cfg.splits)
            split_comps = comps  # reused by the output data card (near-dup arm)
            _record(
                "split", splits=cfg.splits, mode="leakage_safe",
                cluster_strategy=strategy, threshold=thr,
            )
        elif cfg.split_mode == "hash":
            out = T.hash_split(out, id_col=id_col, splits=cfg.splits)
            _record("split", splits=cfg.splits, mode="hash")
        else:
            raise ValueError(f"unknown split_mode: {cfg.split_mode!r}")

    if cfg.epochs is not None:
        if "epoch" in out.columns:
            # reserved: withColumn would silently overwrite a caller column
            # and downstream stages key on (id, epoch) — fail loud (r13 ADVICE)
            raise ValueError(
                "curate_corpus: the epochs stage writes the reserved column "
                "'epoch' but the input already carries one — rename it first"
            )
        out = T.epoch_mix(
            out,
            cfg.epochs,
            id_col=id_col,
            source_col=cfg.epoch_source_col if isinstance(cfg.epochs, dict) else None,
            strict=cfg.epoch_strict,
        )
        if cfg.report_counts and isinstance(cfg.epochs, dict):
            # per-source survivor counts (r13 ADVICE): a typo'd source name
            # silently drops the whole source — make it visible in the stage
            # report. Opt-in (one extra keyed count) like every report_counts
            # action; output cardinality = |sources|, the epoch_mix contract.
            survivors = {
                r[cfg.epoch_source_col]: r["__n"]
                for r in out.groupBy(cfg.epoch_source_col)
                .agg(F.count(F.lit(1)).alias("__n"))
                .collect()
            }
            _record(
                "epochs",
                epochs=cfg.epochs,
                source_rows={
                    src: int(survivors.get(src, 0)) for src in cfg.epochs
                },
            )
        else:
            _record("epochs", epochs=cfg.epochs)

    if cfg.shuffle_salt is not None:
        if "shuffle_pos" in out.columns:
            raise ValueError(
                "curate_corpus: the shuffle stage writes the reserved column "
                "'shuffle_pos' but the input already carries one — rename it "
                "first"
            )
        # the unique key is (id, epoch) once the upsampler ran — one md5 key
        # per id would leave epoch copies' relative order ambiguous inside
        # the range-partitioned prefix sum
        shuffle_ids = [id_col, "epoch"] if cfg.epochs is not None else [id_col]
        out = P.global_shuffle(out, id_col=shuffle_ids, salt=cfg.shuffle_salt)
        _record("global_shuffle", salt=cfg.shuffle_salt)

    if cfg.pack_budget:
        # Pack each split as an independent stream: without split_col the
        # global cumsum walks ALL docs in id order, so one packed training
        # sequence could mix train/val/test docs — leaking eval data into
        # training sequences, the exact contamination this chain prevents.
        split_col = "split" if cfg.splits else None
        if cfg.shuffle_salt is not None:
            order: str | list[str] = "shuffle_pos"  # the locality-free stream
        elif cfg.epochs is not None:
            order = [id_col, "epoch"]  # id alone is no longer unique
        else:
            order = id_col
        out = P.pack_sequences(
            out, cfg.pack_budget, key=key, id_col=id_col,
            split_col=split_col, order_col=order,
        )
        _record(
            "pack", budget=cfg.pack_budget, per_split=bool(split_col),
            order="shuffled" if cfg.shuffle_salt is not None else "id",
        )

    _record("output")
    if cfg.report_data_card:
        # when the leakage_safe split already clustered the surviving corpus,
        # the output card reuses those labels for FREE near-dup membership
        # (near_dup_docs per source) — no second clustering pass
        report["output"]["data_card"] = _data_card(out, components=split_comps)
    return out, report
