"""The reference's end-to-end flow (Latanova_v1.py:630-742) as one callable:
ingest → profile → generate → validate → report/sink.

This is the "main()" a user of the reference would run — reproduced on
Spark: one profile pass over a bounded sample (see profile(): an inference
scan, then ``column_stats`` — one wide stats aggregate plus one groupBy
shared by all categoricals — and per-column jobs for retained entries, date
formats and text embeddings), one generation job, a validation that
re-profiles the synthetic frame through the same ``column_stats`` pass (plus
one text re-profile per text column), optional CSV sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from etl_processes_spark.generate import generate
from etl_processes_spark.io import csv_scan, csv_sink, profile_sink, report_sink
from etl_processes_spark.profile import profile
from etl_processes_spark.validate import validate

DEFAULT_N_SAMPLES = 500  # min(500, SAMPLE_SIZE), Latanova_v1.py:678


def run_reference_pipeline(
    spark: SparkSession,
    input_path: str | DataFrame,
    output_csv: str | None = None,
    profile_json: str | None = None,
    n_samples: int = DEFAULT_N_SAMPLES,
    seed: int = 2025,
    deterministic: bool = False,
    sample_key: str | None = None,
) -> tuple[DataFrame, dict, str]:
    """Returns (synthetic_df, validation, report_text).

    ``deterministic=True`` (with ``sample_key``) runs the profile stage in
    its bit-reproducible mode (hash-ranked sample, value-ordered retained
    entries, exact-decimal moments) so the whole pipeline output is a pure
    function of (input, seed) — reproducible across engines/partitionings."""
    if isinstance(input_path, DataFrame):
        df = input_path
    elif input_path.endswith(".csv"):
        df = csv_scan(spark, input_path)
    else:
        df = spark.read.parquet(input_path)

    profiles = profile(df, deterministic=deterministic, sample_key=sample_key)
    # persist: the synthetic frame is re-read by the validation jobs (the
    # shared stats pass and the concurrent text re-profiles) and the sinks
    synthetic = generate(spark, profiles, n_samples, seed=seed).persist()
    validation = validate(profiles, synthetic)
    report = report_sink(profiles, validation)
    if profile_json:
        profile_sink(profiles, profile_json)
    if output_csv:
        csv_sink(synthetic, output_csv)
    return synthetic, validation, report


def run_training_data_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.3,
    langs: tuple[str, ...] = ("en",),
    per_lang_cap: int | None = None,
    pack_budget: int | None = 2048,
    near_dup_threshold: float = 0.5,
    max_df: int | None = 500,
    seed: int = 42,
    eval_df: DataFrame | None = None,
    contamination_k: int = 5,
    contamination_threshold: float = 0.5,
    filter_repetitive: bool = False,
    scrub_pii: bool = False,
    min_logprob: float | None = None,
    mixture_alpha: float | None = None,
    chunk_tokens: int | None = None,
    chunk_stride: int | None = None,
    line_dedup_max_df: int | None = None,
    line_sep: str = "\n",
    span_dedup_k: int | None = None,
    span_dedup_min_df: int = 2,
    semantic_embeddings: DataFrame | None = None,
    semantic_threshold: float = 0.95,
    semantic_vec_col: str = "embedding",
    shuffle_seed: int | None = None,
    stage_hook=None,
    manage_storage: bool = True,
) -> DataFrame:
    """The LLM training-data assembly flow, composed from the extension
    operators — what a user runs over raw documents before tokenization:

      0. optional line-level boilerplate removal (``line_dedup_max_df``):
         lines shared by more than that many docs are stripped from every
         doc BEFORE any dedup/scoring (nav bars and banners otherwise both
         inflate quality scores and glue unrelated docs into near-dup
         clusters); docs left empty are dropped;
      0b. optional exact-substring span removal (``span_dedup_k``):
          k-token windows shared by >= span_dedup_min_df docs vanish from
          every doc (copied passages); canonicalizes text to
          space-joined tokens; emptied docs drop;
      1. duplicate-cluster resolution (exact ∪ n-gram near-dup edges →
         connected components) — keep one survivor (min id) per cluster;
      1a. optional semantic dedup (``semantic_embeddings``: a frame of
          (id_col, embedding)): SemDeDup cluster-then-prune drops semantic
          duplicates of a kept doc — catches paraphrases the lexical
          families can't;
      1b. optional benchmark decontamination (``eval_df``): drop documents
          whose k-gram overlap with the eval set reaches the threshold
          (broadcast eval hash set — the corpus never shuffles by gram);
      1c. optional repetition filter (``filter_repetitive``): drop docs the
          Gopher-style dup-n-gram/top-token signals flag;
      1d. optional PII scrub (``scrub_pii``): redact emails/phones IN PLACE
          (row-wise expression, no join) before scoring;
      2. language ID + quality scoring (pure codegen expressions, one pass);
      3. filter to wanted languages above the quality floor;
      3b. optional unigram-LM fluency floor (``min_logprob``): the LM is
          built over the SURVIVING corpus (post-dedup/filter), so the score
          reflects the distribution being trained on;
      4. optional per-language stratified cap (md5-ranked, deterministic);
      4b. optional corpus-mixture rebalance (``mixture_alpha``):
          temperature-flattened per-language keep rates, scan-side
          md5-Bernoulli — downsamples dominant languages toward the rarest;
      5a. optional sequence chunking (``chunk_tokens`` [, ``chunk_stride``]):
          rows become fixed-size token windows; downstream packing then
          bins CHUNKS, the unit that actually enters a training batch;
      5. optional token-budget sequence packing;
      6. optional deterministic corpus shuffle (``shuffle_seed``): the
         returned frame is md5-rank ordered — the reproducible training
         order; a new seed is a fresh epoch.

    Returns (doc_id, text, pred_lang, quality_score, n_tokens
    [, unigram_logprob][, chunk_id][, bin_id, offset_in_bin]). Every stage
    is the bucketed/inverted-index/window formulation documented in
    SCALING.md — no all-pairs stage anywhere. The driver does bounded work
    only: semantic_dedup fits its k-means cells on a seeded sample of at
    most 10,000 vectors, and connected components collapses edge lists of
    up to ``dedup.DRIVER_MAX_EDGES`` directed rows in one driver
    union-find pass. The whole flow is deterministic for a given (corpus,
    seed).

    ``stage_hook``: optional fn(stage_name, df) -> df called at every stage
    BOUNDARY with the stage's output frame; whatever it returns feeds the
    next stage. A tracer passes one to attribute work to stages (with
    ``manage_storage`` on, each boundary is already materialized, so a
    later stage never recomputes an earlier one); None (default) adds
    nothing to the plan.

    ``manage_storage`` (default on): the pipeline's own storage lifecycle.
    Several stages pin full-corpus localCheckpoint block sets internally
    (span-dedup token windows, CC edge lists, SemDeDup cells, posting
    streams); left alone, every stage's set stays pinned until job end — at
    sf100 the FULL config exhausted the disk the corpus itself needed
    (round-8 ENOSPC). With management on, each stage boundary is eagerly
    checkpointed (serialized MEMORY_AND_DISK) and, once that materializes,
    everything the stage pinned internally — plus the previous boundary —
    is released (blocking). A boundary is only taken when there is
    something to release, so cheap stages add no serialization pass.
    Results are value-identical either way."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from etl_processes_spark.ops.dedup import dedup_clusters
    from etl_processes_spark.ops.pack import pack_documents, stratified_sample
    from etl_processes_spark.ops.textstats import text_analysis_features
    from etl_processes_spark.partitioning import (
        collect_checkpoints,
        release_checkpoint,
        release_collected,
    )

    _tracked: list[DataFrame] = []
    _prev_boundary: list[DataFrame] = []
    _persisted: list[DataFrame] = []

    def _h(stage: str, frame: DataFrame) -> DataFrame:
        if manage_storage and (_tracked or _prev_boundary or _persisted):
            # materialize the boundary FIRST (self-contained LogicalRDD),
            # then free what it supersedes: the stage's internal checkpoint
            # blocks and the boundary it consumed. Serialized blocks — the
            # deserialized default was a round-7 sf100 OOM class.
            frame = frame.localCheckpoint(
                eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK
            )
            # caches FIRST, and blocking: a .persist() on (a descendant of)
            # the previous boundary registers an InMemoryRelation that the
            # cache manager substitutes into that boundary's optimizedPlan —
            # release_checkpoint would then see InMemoryRelation instead of
            # LogicalRDD and silently skip it, leaking BOTH the cache and
            # the superseded boundary to job end (a full-corpus block set
            # each at sf100; found as 3-not-1 surviving pinned RDDs)
            while _persisted:
                _persisted.pop().unpersist(True)
            release_collected(_tracked)
            while _prev_boundary:
                release_checkpoint(_prev_boundary.pop())
            _prev_boundary.append(frame)
        return stage_hook(stage, frame) if stage_hook is not None else frame

    _scope = collect_checkpoints() if manage_storage else None
    if _scope is not None:
        _tracked = _scope.__enter__()
    try:
        if line_dedup_max_df is not None:
            from etl_processes_spark.ops.dedup import line_dedup

            cleaned = line_dedup(
                docs, id_col, text_col, sep=line_sep, max_doc_freq=line_dedup_max_df
            )
            extra = [c for c in docs.columns if c not in (id_col, text_col)]
            docs = (
                cleaned.filter(F.col("n_lines_kept") > 0)
                .select(id_col, F.col("clean_text").alias(text_col))
                .join(docs.select(id_col, *extra), id_col)
                if extra
                else cleaned.filter(F.col("n_lines_kept") > 0).select(
                    id_col, F.col("clean_text").alias(text_col)
                )
            )
            docs = _h("line_dedup", docs)

        if span_dedup_k is not None:
            from etl_processes_spark.ops.dedup import remove_duplicate_spans

            despanned = remove_duplicate_spans(
                docs, id_col, text_col, k=span_dedup_k, min_df=span_dedup_min_df
            )
            extra = [c for c in docs.columns if c not in (id_col, text_col)]
            despanned = despanned.filter(F.col("n_tokens_kept") > 0).select(
                id_col, F.col("clean_text").alias(text_col)
            )
            docs = (
                despanned.join(docs.select(id_col, *extra), id_col)
                if extra
                else despanned
            )
            docs = _h("span_dedup", docs)

        clusters = dedup_clusters(
            docs, id_col, text_col, threshold=near_dup_threshold, max_df=max_df
        )  # output keyed by id_col (see dedup_clusters)
        losers = clusters.filter(F.col(id_col) != F.col("cluster_id")).select(id_col)
        kept = _h("cluster_dedup", docs.join(losers, id_col, "left_anti"))

        if semantic_embeddings is not None:
            from etl_processes_spark.ops.similarity import semantic_dedup

            # restrict to ids still alive after lexical dedup BEFORE computing
            # components: otherwise a component whose min-id representative was
            # already removed (or has no doc row) loses ALL its members — the
            # survivor must be a doc that actually remains in the corpus
            live_emb = semantic_embeddings.join(
                kept.select(id_col), id_col, "left_semi"
            )
            sem_losers = (
                semantic_dedup(
                    live_emb, id_col, semantic_vec_col,
                    threshold=semantic_threshold, seed=seed,
                )
                .filter(~F.col("keep"))
                .select(id_col)
            )
            kept = _h("semantic_dedup", kept.join(sem_losers, id_col, "left_anti"))

        if eval_df is not None:
            from etl_processes_spark.ops.decontaminate import decontaminate

            kept = _h(
                "decontaminate",
                decontaminate(
                    kept, eval_df, id_col, text_col,
                    k=contamination_k, threshold=contamination_threshold,
                ),
            )
        if filter_repetitive:
            from etl_processes_spark.ops.textstats import repetition_stats

            flagged = (
                repetition_stats(kept, id_col, text_col)
                .filter(F.col("repetitive"))
                .select(id_col)
            )
            kept = _h("repetition_filter", kept.join(flagged, id_col, "left_anti"))
        if scrub_pii:
            from etl_processes_spark.ops.textstats import pii_clean_expr

            kept = kept.withColumn(text_col, pii_clean_expr(text_col))

        # lang-ID + token count + quality score come from ONE fused tokenize →
        # explode → aggregate pass (text_analysis_features): the old
        # column-composition form re-ran the interpreted tokenize pipeline
        # ~10× per row (HOFs are never CSE'd) and still paid an id-keyed join
        # for quality_features. The text column is requested via extra_rowwise,
        # which ships it through ONE row-keyed shuffle (never the exploded
        # token aggregate, where a document-sized grouping key is O(len²)/doc).
        scored = text_analysis_features(
            kept, id_col, text_col, extra_rowwise={text_col: F.col(text_col)}
        ).select(id_col, text_col, "pred_lang", "n_tokens", "quality_score")
        filtered = scored.filter(
            F.col("pred_lang").isin(*langs) & (F.col("quality_score") >= min_quality)
        ).select(id_col, text_col, "pred_lang", "quality_score", "n_tokens")
        filtered = _h("score_filter", filtered)
        if min_logprob is not None:
            from etl_processes_spark.ops.textstats import unigram_logprob_score

            # the LM-build pass re-reads the corpus subtree; persist so the
            # dedup/scoring work above isn't executed once per downstream job
            # (registered for release at the next boundary when managing)
            filtered = filtered.persist()
            if manage_storage:
                _persisted.append(filtered)
            lm = unigram_logprob_score(filtered, id_col, text_col)
            filtered = _h(
                "lm_floor",
                filtered.join(lm, id_col).filter(
                    F.col("unigram_logprob") >= min_logprob
                ),
            )
        if per_lang_cap is not None:
            filtered = stratified_sample(filtered, "pred_lang", per_lang_cap, id_col, seed)
        if mixture_alpha is not None:
            from etl_processes_spark.ops.pack import mixture_rates, mixture_sample

            rates = mixture_rates(filtered, "pred_lang", alpha=mixture_alpha)
            filtered = mixture_sample(filtered, "pred_lang", rates, id_col, seed=seed)
        pack_key = id_col
        if chunk_tokens is not None:
            from etl_processes_spark.ops.pack import chunk_documents

            chunks = chunk_documents(
                filtered, id_col, text_col, chunk_tokens, chunk_stride
            ).select(
                id_col, "chunk_id",
                F.col("chunk_text").alias(text_col),
                F.col("n_tokens").alias("__chunk_tokens"),
            )
            # chunks inherit the doc's metadata (one id-keyed join); the packer
            # needs a single unique ordered key — 15 bits of chunk index keeps
            # the composite bigint ordered by (doc, chunk) and collision-free
            # for any doc under 32768 chunks (16.7M tokens at the default size)
            meta_cols = [c for c in filtered.columns if c not in (text_col, "n_tokens")]
            filtered = (
                chunks.join(filtered.select(*meta_cols), id_col)
                .withColumn("n_tokens", F.col("__chunk_tokens"))
                .withColumn(
                    "__seq_key", F.col(id_col) * 32768 + F.col("chunk_id")
                )
                .drop("__chunk_tokens")
            )
            filtered = _h("chunk", filtered)
            pack_key = "__seq_key"
        if pack_budget is None:
            out = filtered
        else:
            # filtered feeds BOTH the packer and the final join — persist so the
            # dedup/scoring/sampling subtree executes once, not twice
            # (released at the pack boundary when managing — left pinned it
            # held a full-corpus cache AND blocked the previous boundary's
            # release via the cache manager's InMemoryRelation substitution)
            filtered = filtered.persist()
            if manage_storage:
                _persisted.append(filtered)
            packed = pack_documents(filtered, pack_key, "n_tokens", pack_budget)
            out = _h(
                "pack",
                filtered.join(
                    packed.select(pack_key, "bin_id", "offset_in_bin"), pack_key
                ),
            )
        if shuffle_seed is not None:
            from etl_processes_spark.ops.pack import shuffle_deterministic

            # rank on pack_key: when chunking is on, id_col repeats across
            # chunks and equal ranks would make the order nondeterministic
            out = shuffle_deterministic(out, pack_key, seed=shuffle_seed).drop(
                "shuffle_rank"
            )
        return out.drop("__seq_key")
    finally:
        # a leaked collector scope would swallow every later
        # track_checkpoint registration into a dead list — always pop
        if _scope is not None:
            _scope.__exit__(None, None, None)


def run_incremental_ingest(
    spark: SparkSession,
    batch: DataFrame,
    seen_digests: DataFrame | None = None,
    near_dup_index: DataFrame | None = None,
    lm_counts: DataFrame | None = None,
    near_dup_sigs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_logprob: float | None = None,
    split_fractions: dict[str, float] | None = None,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    near_dup_threshold: float = 0.5,
    seed: int = 101,
    line_counts: DataFrame | None = None,
    line_dedup_max_df: int | None = None,
    line_sep: str = "\n",
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """The APPEND-MODE ingest flow — what a corpus pipeline runs per
    arriving batch, never re-reading the corpus itself. All corpus-side
    knowledge lives in three compact state tables the caller persists and
    passes back in (each None = cold start):

      - ``seen_digests``: (__key) content sha digests → exact dedup
        (one anti-join; `ops.dedup.dedup_incremental`);
      - ``near_dup_index``: (id, band, bh) MinHash buckets with
        ``near_dup_sigs`` = (id, sig) its signature companion (normalized —
        the signature is never duplicated per band row) → near-dup dedup
        by bucket join + signature-agreement verify
        (`ops.dedup.near_dup_incremental`; a legacy denormalized index is
        split automatically);
      - ``lm_counts``: (token, c) frozen unigram LM → fluency scoring of
        the batch against the CORPUS distribution (`unigram_logprob_score`
        with counts_df — new batches must not re-estimate the LM, or
        scores drift batch to batch);
      - ``line_counts`` (with ``line_dedup_max_df``): (__h, line_df)
        accumulated line-frequency table → boilerplate-line removal
        against the WHOLE corpus's counts (`line_dedup_incremental`) —
        runs FIRST, so a doc that is an exact dup only because of its
        banner still dedups after cleaning; docs emptied by cleaning drop.

    Then deterministic split assignment (``split_fractions``): a doc's
    split depends only on its key, so assignments never churn as the
    corpus grows.

    Returns (accepted, new_state) where new_state holds the DELTAS to
    append: {"digests", "index", "sigs", "counts"[, "line_counts"]} — counts are
    the ACCEPTED batch's token counts (merge = unionByName + groupBy-sum on
    the caller's schedule). Every stage is anti-join/bucket-join shaped:
    per-batch cost scales with the batch, not the corpus."""
    from pyspark.sql import functions as F

    from etl_processes_spark.ops.dedup import (
        content_hash_expr,
        dedup_incremental,
        minhash_index,
        near_dup_incremental,
    )
    from etl_processes_spark.ops.pack import split_assign
    from etl_processes_spark.ops.textstats import unigram_logprob_score

    raw_batch = batch  # pre-cleaning originals, for the accepted-only line delta
    line_cleaning = line_dedup_max_df is not None
    if line_cleaning:
        from etl_processes_spark.ops.dedup import line_dedup_incremental

        cleaned, _ = line_dedup_incremental(
            batch, line_counts, id_col, text_col,
            sep=line_sep, max_doc_freq=line_dedup_max_df,
        )
        extra = [c for c in batch.columns if c not in (id_col, text_col)]
        cleaned = cleaned.filter(F.col("n_lines_kept") > 0).select(
            id_col, F.col("clean_text").alias(text_col)
        )
        batch = cleaned.join(batch.select(id_col, *extra), id_col) if extra else cleaned

    # A one-pass normalize-once state build measured slower: OPTIMIZATION_r13.md.
    if seen_digests is not None:
        batch, _ = dedup_incremental(batch, seen_digests, id_col, text_col)
    if near_dup_index is not None:
        batch, sigs_delta, index_delta = near_dup_incremental(
            batch, near_dup_index, id_col, text_col,
            num_hashes=num_hashes, bands=bands, k=shingle_k,
            threshold=near_dup_threshold, sigs=near_dup_sigs,
        )
    else:
        sigs_delta, index_delta = minhash_index(
            batch, id_col, text_col, num_hashes, bands, shingle_k
        )
    accepted = batch
    if min_logprob is not None and lm_counts is not None:
        scored = unigram_logprob_score(
            accepted, id_col, text_col, counts_df=lm_counts
        )
        accepted = accepted.join(scored, id_col).filter(
            F.col("unigram_logprob") >= min_logprob
        )
    if split_fractions is not None:
        accepted = split_assign(accepted, id_col, split_fractions, seed=seed)

    from etl_processes_spark.ops.dedup import tokens_expr

    digests_delta = accepted.select(content_hash_expr(text_col).alias("__key")).distinct()
    counts_delta = (
        accepted.select(F.explode(tokens_expr(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    state = {
        "digests": digests_delta,
        "index": index_delta,
        "sigs": sigs_delta,
        "counts": counts_delta,
    }
    if line_cleaning:
        # the line-frequency delta counts the ORIGINAL (pre-cleaning) lines
        # of ACCEPTED docs only — state describes the ingested corpus, so a
        # replayed batch (nothing accepted) appends an EMPTY delta
        # (idempotence), and duplicate docs never inflate the counts. The
        # original lines (not the cleaned ones) keep already-stripped
        # boilerplate counted so it stays above the cap in future batches.
        from etl_processes_spark.ops.dedup import _exploded_lines, _line_doc_freq

        accepted_raw = raw_batch.join(
            accepted.select(id_col), id_col, "left_semi"
        )
        state["line_counts"] = _line_doc_freq(
            _exploded_lines(accepted_raw, id_col, text_col, line_sep)
        )
    return accepted, state
