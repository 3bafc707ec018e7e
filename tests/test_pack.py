"""Stratified sampling + token-budget packing (ops/pack.py)."""

from pyspark.sql import functions as F

from etl_processes_spark.ops.pack import pack_documents, stratified_sample


def test_stratified_sample_exact_and_partition_invariant(spark):
    df = spark.createDataFrame(
        [(i, ["en", "de", "fr"][i % 3]) for i in range(90)], ["doc_id", "lang"]
    )
    s1 = stratified_sample(df, "lang", 5, "doc_id", seed=7)
    counts = {r["lang"]: r["n"] for r in s1.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts == {"en": 5, "de": 5, "fr": 5}

    # small stratum: takes all of it, never errors
    few = df.filter((F.col("lang") != "fr") | (F.col("doc_id") < 9))
    sf = stratified_sample(few, "lang", 5, "doc_id", seed=7)
    assert sf.filter("lang = 'fr'").count() == 3

    # deterministic under repartitioning
    a = sorted(r["doc_id"] for r in s1.collect())
    b = sorted(
        r["doc_id"]
        for r in stratified_sample(df.repartition(13), "lang", 5, "doc_id", seed=7).collect()
    )
    assert a == b


def test_pack_documents_contiguous_budget_bins(spark):
    toks = [30, 50, 40, 80, 10, 10, 120, 5]
    df = spark.createDataFrame(list(enumerate(toks)), ["doc_id", "n_tokens"])
    rows = {r["doc_id"]: r for r in pack_documents(df, "doc_id", "n_tokens", 100).collect()}

    # bin = floor(tokens_before / 100): cumulative-before = 0,30,80,120,200,210,220,340
    assert [rows[i]["bin_id"] for i in range(8)] == [0, 0, 0, 1, 2, 2, 2, 3]
    assert rows[3]["offset_in_bin"] == 20  # straddles: starts 20 into bin 1
    # bins are contiguous runs in order
    seq = [rows[i]["bin_id"] for i in range(8)]
    assert seq == sorted(seq)
    # each bin's START tokens stay under budget (only a straddler overflows)
    for i in range(8):
        assert rows[i]["offset_in_bin"] < 100


def test_training_data_pipeline_end_to_end(spark):
    from etl_processes_spark.pipeline import run_training_data_pipeline

    a = "the quick brown fox jumps over the lazy dog in the autumn morning light"
    b = "a tall ship sails across the wide ocean to the harbor of the old city"
    rows = (
        [(0, a), (1, a), (2, a)]                       # exact dups → survivor 0
        + [(3, b), (4, b + " at dawn")]                # near-dups → survivor 3
        + [(5, "music and painting are the arts that people love to share in the town")]
        + [(6, "cooking is the craft of turning simple things into a meal for the family")]
        + [(20 + i, f"der hund ist nicht ein tier nummer {i} und so weiter") for i in range(3)]
        + [(30, "zz")]                                 # too short / low quality
    )
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = run_training_data_pipeline(
        spark, docs, min_quality=0.2, langs=("en",), pack_budget=24,
        near_dup_threshold=0.5,
    ).collect()
    ids = sorted(r["doc_id"] for r in out)
    assert ids == [0, 3, 5, 6]                         # survivors + unique en docs
    assert all(r["pred_lang"] == "en" for r in out)    # german + junk filtered
    assert all(r["offset_in_bin"] < 24 for r in out)
    assert len({r["bin_id"] for r in out}) >= 2        # actually packed


def test_training_pipeline_custom_id_col(spark):
    from etl_processes_spark.pipeline import run_training_data_pipeline

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat in the sun and the dog slept by the door"),
         (2, "the cat sat on the mat in the sun and the dog slept by the door")],
        ["my_id", "text"],
    )
    out = run_training_data_pipeline(
        spark, docs, id_col="my_id", min_quality=0.0, pack_budget=None
    ).collect()
    assert [r["my_id"] for r in out] == [1]  # dedup keyed by the custom id


# hypothesis: pack invariants under random token streams ---------------------

from hypothesis import given, settings, strategies as st


@settings(max_examples=8, deadline=None, derandomize=True)
@given(st.lists(st.integers(1, 300), min_size=1, max_size=30), st.integers(50, 200))
def test_pack_documents_invariants(spark, toks, budget):
    df = spark.createDataFrame(list(enumerate(toks)), ["doc_id", "n_tokens"])
    rows = sorted(
        pack_documents(df, "doc_id", "n_tokens", budget).collect(),
        key=lambda r: r["doc_id"],
    )
    cum = 0
    for r in rows:
        assert r["bin_id"] == cum // budget       # cumulative bin assignment
        assert r["offset_in_bin"] == cum % budget
        cum += r["n_tokens"]
    assert [r["bin_id"] for r in rows] == sorted(r["bin_id"] for r in rows)


def test_pack_documents_rejects_nonpositive_budget(spark):
    import pytest
    from etl_processes_spark.ops.pack import pack_documents

    df = spark.createDataFrame([(1, 10)], ["doc_id", "n_tokens"])
    with pytest.raises(ValueError, match="budget"):
        pack_documents(df, "doc_id", "n_tokens", 0)


def test_training_pipeline_hygiene_stages(spark):
    """eval-set decontamination, repetition filtering, and in-place PII
    scrubbing compose into the assembly flow."""
    from etl_processes_spark.pipeline import run_training_data_pipeline

    good = "the quick brown fox jumps over the lazy dog in the morning light"
    evaltxt = "a tall ship sails across the wide ocean to the harbor of the old city"
    repet = "the spam the spam the spam the spam the spam the spam the spam the spam"
    piitxt = "the contact for the office is bob@example.com and the line is open to all"
    docs = spark.createDataFrame(
        [(0, good), (1, evaltxt), (2, repet), (3, piitxt)], ["doc_id", "text"]
    )
    ev = spark.createDataFrame([(99, evaltxt)], ["doc_id", "text"])
    out = run_training_data_pipeline(
        spark, docs, min_quality=0.0, langs=("en",), pack_budget=None,
        eval_df=ev, contamination_k=3, filter_repetitive=True, scrub_pii=True,
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert 1 not in by_id        # contaminated (verbatim eval doc)
    assert 2 not in by_id        # repetitive (dup 3-grams)
    assert 0 in by_id and 3 in by_id
    assert "<EMAIL>" in by_id[3]["text"] and "bob@" not in by_id[3]["text"]


def test_chunk_documents_disjoint_and_overlap(spark):
    from etl_processes_spark.ops.pack import chunk_documents

    text = " ".join(f"w{i}" for i in range(10))  # 10 tokens
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])

    # disjoint: chunk=4 -> ceil((10-4)/4)+1 = 3 chunks at 0,4,8
    out = {
        r["chunk_id"]: r
        for r in chunk_documents(df, "doc_id", "text", chunk_tokens=4).collect()
    }
    assert sorted(out) == [0, 1, 2]
    assert out[0]["chunk_text"] == "w0 w1 w2 w3"
    assert out[2]["start_token"] == 8 and out[2]["n_tokens"] == 2
    assert out[2]["chunk_text"] == "w8 w9"

    # overlap: chunk=4 stride=2 -> ceil(6/2)+1 = 4 chunks at 0,2,4,6;
    # the last window reaches the final token
    ov = {
        r["chunk_id"]: r
        for r in chunk_documents(
            df, "doc_id", "text", chunk_tokens=4, stride=2
        ).collect()
    }
    assert sorted(ov) == [0, 1, 2, 3]
    assert ov[1]["chunk_text"] == "w2 w3 w4 w5"
    assert ov[3]["start_token"] == 6 and ov[3]["chunk_text"] == "w6 w7 w8 w9"


def test_chunk_documents_edges(spark):
    import pytest
    from etl_processes_spark.ops.pack import chunk_documents

    df = spark.createDataFrame(
        [(1, "only three tokens"), (2, ""), (3, "   "), (4, None), (5, "x " * 4)],
        ["doc_id", "text"],
    )
    rows = chunk_documents(df, "doc_id", "text", chunk_tokens=4).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["doc_id"], []).append(r)
    # short doc: one full-text chunk
    assert len(by_id[1]) == 1 and by_id[1][0]["chunk_text"] == "only three tokens"
    assert by_id[1][0]["n_tokens"] == 3
    # blank/null docs: one empty chunk each (row preserved, not dropped)
    for i in (2, 3, 4):
        assert len(by_id[i]) == 1 and by_id[i][0]["n_tokens"] == 0
        assert by_id[i][0]["chunk_text"] == ""
    # exact multiple: 4 tokens, chunk 4 -> exactly one chunk
    assert len(by_id[5]) == 1 and by_id[5][0]["n_tokens"] == 4
    with pytest.raises(ValueError, match="stride"):
        chunk_documents(df, "doc_id", "text", chunk_tokens=4, stride=0)


def test_mixture_sample_rates_and_determinism(spark):
    from etl_processes_spark.ops.pack import mixture_rates, mixture_sample

    rows = [(i, "big" if i % 10 else "small") for i in range(2000)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"]).repartition(8)
    rates = mixture_rates(df, "lang", alpha=0.5)
    # 200 small / 1800 big -> small keeps all, big keeps sqrt(200/1800)=1/3
    assert rates["small"] == 1.0
    assert abs(rates["big"] - (200.0 / 1800.0) ** 0.5) < 1e-6

    kept = mixture_sample(df, "lang", rates, "doc_id", seed=77)
    counts = {r["lang"]: r["n"] for r in kept.groupBy("lang").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("doc_id").alias("n")
    ).collect()}
    assert counts["small"] == 200  # rate 1.0 keeps everything
    expect_big = 1800 * rates["big"]
    assert abs(counts["big"] - expect_big) < 4 * (expect_big * (1 - rates["big"])) ** 0.5

    # deterministic: same selection under different partitioning
    a = sorted(r["doc_id"] for r in kept.collect())
    b = sorted(
        r["doc_id"]
        for r in mixture_sample(df.coalesce(1), "lang", rates, "doc_id", seed=77).collect()
    )
    assert a == b

    # unknown group falls to default_rate
    extra = spark.createDataFrame([(99999, "other")], ["doc_id", "lang"])
    assert mixture_sample(extra, "lang", rates, "doc_id").count() == 0
    assert mixture_sample(extra, "lang", rates, "doc_id", default_rate=1.0).count() == 1


def test_training_pipeline_chunk_mixture_logprob(spark):
    """The three new stages compose: LM-fluency floor, mixture rebalance,
    chunking feeding the packer with chunk-level rows."""
    from pyspark.sql import functions as F

    from etl_processes_spark.pipeline import run_training_data_pipeline

    # texts must be distinct (and non-near-dup) or stage 1 dedups them away
    words = ("fox dog cat owl elk hen ram sow colt mare lamb "
             "bear wolf lynx hare mole vole stoat otter seal").split()
    def en_text(i):
        ws = [words[(i * 7 + j * 3) % len(words)] for j in range(12)]
        return ("the " + " and the ".join(ws[:6]) + " went to the "
                + " then the ".join(ws[6:]) + " by the river " + f"tale{i} " * 3)
    rows = [(i, en_text(i)) for i in range(40)]          # en, long enough to chunk
    rows += [(100 + i, f"der hund und die katze sind nicht da nummer{i} " * 3)
             for i in range(4)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    # near_dup_threshold > 1 neutralizes stage 1 (texts are distinct, so
    # exact dedup is identity too) — this test drives the NEW stages
    out = run_training_data_pipeline(
        spark, docs, min_quality=0.0, langs=("en", "de"),
        pack_budget=64, min_logprob=-10.0, mixture_alpha=0.5,
        chunk_tokens=16, chunk_stride=16, near_dup_threshold=1.01,
    )
    cols = set(out.columns)
    assert {"doc_id", "chunk_id", "text", "n_tokens", "bin_id",
            "offset_in_bin", "unigram_logprob", "pred_lang"} <= cols
    got = out.collect()
    assert len(got) > 0
    # every chunk respects the chunk size and carries a negative log-prob
    assert all(r["n_tokens"] <= 16 for r in got)
    assert all(r["unigram_logprob"] < 0 for r in got)
    # mixture with alpha=0.5 keeps ALL of the rarest language
    de_docs = {r["doc_id"] for r in got if r["pred_lang"] == "de"}
    assert de_docs == {100, 101, 102, 103}
    # chunk ids per doc form a contiguous 0..k range and long docs chunk
    per_doc = {}
    for r in got:
        per_doc.setdefault(r["doc_id"], set()).add(r["chunk_id"])
    for chunks in per_doc.values():
        assert chunks == set(range(len(chunks)))
    assert any(len(c) >= 2 for c in per_doc.values())


def test_incremental_ingest_flow(spark):
    """Append-mode ingest: exact + near-dup dedup against state tables,
    frozen-LM scoring, split assignment; state deltas append cleanly and a
    replayed batch is fully rejected."""
    from pyspark.sql import functions as F

    from etl_processes_spark.ops.dedup import content_hash_expr
    from etl_processes_spark.pipeline import run_incremental_ingest

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog near the river bank today"),
         (2, "stars and planets drift in the vast silent emptiness between galaxies")],
        ["doc_id", "text"],
    )
    # cold start: corpus itself ingested first
    accepted0, st0 = run_incremental_ingest(spark, corpus, shingle_k=3, bands=32)
    assert accepted0.count() == 2

    digests = st0["digests"]
    index = st0["index"]
    sigs = st0["sigs"]
    counts = st0["counts"]
    # normalized state: buckets are narrow, signatures live once per doc
    assert set(index.columns) == {"id", "band", "bh"}
    assert set(sigs.columns) == {"id", "sig"}

    batch = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup
         (11, "the quick brown fox jumps over the sleepy dog near the river bank today"),  # near dup
         (12, "novel cooking text with garlic butter sage pasta and lemon zest aplenty")],
        ["doc_id", "text"],
    )
    accepted, st = run_incremental_ingest(
        spark, batch,
        seen_digests=digests, near_dup_index=index, near_dup_sigs=sigs,
        lm_counts=counts,
        min_logprob=-50.0, split_fractions={"train": 0.9, "val": 0.1},
        shingle_k=3, bands=32, near_dup_threshold=0.4,
    )
    rows = accepted.collect()
    assert [r["doc_id"] for r in rows] == [12]
    assert rows[0]["split"] in ("train", "val")
    assert rows[0]["unigram_logprob"] < 0

    # replay with merged state: everything rejected
    merged_digests = digests.unionByName(st["digests"]).distinct()
    merged_index = index.unionByName(st["index"])
    merged_sigs = sigs.unionByName(st["sigs"])
    accepted2, _ = run_incremental_ingest(
        spark, batch, seen_digests=merged_digests, near_dup_index=merged_index,
        near_dup_sigs=merged_sigs,
        shingle_k=3, bands=32, near_dup_threshold=0.4,
    )
    assert accepted2.count() == 0


def test_training_pipeline_line_semantic_shuffle_stages(spark):
    """Round-4 stages compose: boilerplate-line removal, semantic dedup over
    an embedding side-table, and the deterministic output shuffle."""
    from etl_processes_spark.pipeline import run_training_data_pipeline

    banner = "subscribe to the newsletter for the latest updates"
    a = banner + "\nthe quick brown fox jumps over the lazy dog in the light"
    b = banner + "\na tall ship sails across the wide ocean to the old harbor"
    c = banner + "\nmusic and painting are the arts that people love to share"
    docs = spark.createDataFrame([(0, a), (1, b), (2, c)], ["doc_id", "text"])
    # doc 2 is a semantic dup of doc 1 (identical embedding direction)
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.0, 2.0])],
        ["doc_id", "embedding"],
    )
    out = run_training_data_pipeline(
        spark, docs, min_quality=0.0, langs=("en",), pack_budget=None,
        line_dedup_max_df=1, semantic_embeddings=emb, semantic_threshold=0.99,
        shuffle_seed=11,
    )
    rows = out.collect()
    ids = sorted(r["doc_id"] for r in rows)
    assert ids == [0, 1]  # 2 dropped as a semantic dup of 1
    # the banner line is stripped before scoring
    assert all("newsletter" not in r["text"] for r in rows)
    # shuffle: order reproducible and a pure function of the seed
    again = [r["doc_id"] for r in out.collect()]
    assert [r["doc_id"] for r in rows] == again


def test_incremental_ingest_with_line_state(spark):
    """Line-frequency state composes into the per-batch ingest: the banner
    learned from batch 1 is stripped from batch 2's single occurrence, and
    a doc that differs ONLY by its banner dedups exactly after cleaning."""
    from etl_processes_spark.pipeline import run_incremental_ingest

    b1 = spark.createDataFrame(
        [(0, "banner line\nthe quick brown fox jumps over the lazy dog"),
         (1, "banner line\na tall ship sails across the wide ocean tonight")],
        ["doc_id", "text"],
    )
    acc1, st1 = run_incremental_ingest(
        spark, b1, shingle_k=3, bands=32, line_dedup_max_df=1
    )
    assert sorted(r["doc_id"] for r in acc1.select("doc_id").collect()) == [0, 1]
    assert "line_counts" in st1
    texts1 = {r["doc_id"]: r["text"] for r in acc1.select("doc_id", "text").collect()}
    assert all("banner" not in t for t in texts1.values())

    # batch 2: doc 2 = doc 0's body + the banner → after cleaning it is an
    # exact dup of accepted doc 0's digest → rejected
    b2 = spark.createDataFrame(
        [(2, "banner line\nthe quick brown fox jumps over the lazy dog"),
         (3, "genuinely new content about mountains and rivers far away")],
        ["doc_id", "text"],
    )
    acc2, st2 = run_incremental_ingest(
        spark, b2,
        seen_digests=st1["digests"], near_dup_index=st1["index"],
        near_dup_sigs=st1["sigs"],
        line_counts=st1["line_counts"], shingle_k=3, bands=32,
        line_dedup_max_df=1,
    )
    ids2 = sorted(r["doc_id"] for r in acc2.select("doc_id").collect())
    assert ids2 == [3]
    assert "line_counts" in st2


def test_training_pipeline_span_dedup_stage(spark):
    from etl_processes_spark.pipeline import run_training_data_pipeline

    span = "alpha bravo charlie delta echo foxtrot golf hotel"
    docs = spark.createDataFrame(
        [(0, f"the original story begins here {span} and then continues onward"),
         (1, f"a different tale opens now {span} with its own special ending"),
         (2, "the entirely distinct content of the day has no copied passage")],
        ["doc_id", "text"],
    )
    out = run_training_data_pipeline(
        spark, docs, min_quality=0.0, langs=("en",), pack_budget=None,
        span_dedup_k=8, near_dup_threshold=0.9,
    ).collect()
    texts = {r["doc_id"]: r["text"] for r in out}
    assert sorted(texts) == [0, 1, 2]
    assert all("alpha" not in t for t in texts.values())
    assert "original story" in texts[0]


def test_mixture_rates_by_tokens(spark):
    from etl_processes_spark.ops.pack import mixture_rates_by_tokens, mixture_sample

    # en: few docs but huge token mass; de: many small docs
    rows = [(i, "en", 1000) for i in range(5)] + [
        (100 + i, "de", 10) for i in range(50)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "n_tokens"])
    rates = mixture_rates_by_tokens(df, "lang", "n_tokens", alpha=0.5)
    # token mass: en=5000, de=500 -> en rate sqrt(500/5000)=sqrt(0.1), de=1.0
    import math
    assert rates["de"] == 1.0
    assert abs(rates["en"] - round(math.sqrt(0.1), 6)) < 1e-12
    # doc-count rates would go the other way (en has FEWER docs)
    from etl_processes_spark.ops.pack import mixture_rates
    doc_rates = mixture_rates(df, "lang", alpha=0.5)
    assert doc_rates["en"] == 1.0 and doc_rates["de"] < 1.0

    kept = mixture_sample(df, "lang", rates, "doc_id", seed=7)
    assert kept.filter("lang = 'de'").count() == 50  # rate 1.0 keeps all
    assert 0 < kept.filter("lang = 'en'").count() <= 5


def test_mixture_rates_by_tokens_zero_token_group(spark):
    from etl_processes_spark.ops.pack import mixture_rates_by_tokens

    df = spark.createDataFrame(
        [(1, "en", 100), (2, "en", 100), (3, "xx", 0)],
        ["doc_id", "lang", "n_tokens"],
    )
    rates = mixture_rates_by_tokens(df, "lang", "n_tokens")
    # a zero-mass group keeps rate 1.0 — an absent entry would be deleted
    # wholesale by mixture_sample's default_rate=0.0
    assert rates["xx"] == 1.0 and rates["en"] == 1.0


def test_incremental_ingest_line_state_replay_is_noop(spark):
    """Replaying a batch against state that already contains it must
    produce an EMPTY line-frequency delta (idempotent ingest)."""
    from etl_processes_spark.pipeline import run_incremental_ingest

    b = spark.createDataFrame(
        [(0, "banner\nthe quick brown fox jumps high"),
         (1, "banner\na tall ship sails away tonight")],
        ["doc_id", "text"],
    )
    acc1, st1 = run_incremental_ingest(spark, b, shingle_k=3, line_dedup_max_df=1)
    assert st1["line_counts"].count() > 0
    # replay the SAME batch with the state appended: all docs rejected
    acc2, st2 = run_incremental_ingest(
        spark, b, seen_digests=st1["digests"], near_dup_index=st1["index"],
        near_dup_sigs=st1["sigs"],
        line_counts=st1["line_counts"], shingle_k=3, line_dedup_max_df=1,
    )
    assert acc2.count() == 0
    assert st2["line_counts"].count() == 0   # no double-counted lines
    assert st2["digests"].count() == 0


def test_training_pipeline_manage_storage_releases_and_matches(spark):
    """The pipeline's built-in storage lifecycle (manage_storage, default
    on): stage-internal localCheckpoint block sets and
    superseded boundaries are RELEASED as the flow constructs — at sf100 the
    unmanaged full config died on ENOSPC holding every stage's blocks to job
    end. Results must be value-identical to the unmanaged plan."""
    from etl_processes_spark.pipeline import run_training_data_pipeline

    span = "copy of the shared boilerplate passage that repeats everywhere"
    rows = [
        (i, f"document number {i} talks about the weather in town today " + span)
        for i in range(12)
    ] + [
        (100 + i, f"unique essay {i} on the art of cooking fine meals for friends")
        for i in range(6)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    def pinned_ids() -> set:
        # ids, not a count: the JVM context cleaner may unpersist RDDs that
        # earlier tests leaked while this test runs, so a count delta can
        # go negative; only ids new since the baseline belong to this test
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    kwargs = dict(
        min_quality=0.0, langs=("en",), pack_budget=32,
        near_dup_threshold=0.5, span_dedup_k=4, span_dedup_min_df=3,
        filter_repetitive=True,
    )
    base_u = pinned_ids()
    out_plain = run_training_data_pipeline(spark, docs, manage_storage=False, **kwargs)
    rows_plain = sorted(map(tuple, out_plain.collect()))
    pinned_unmanaged = len(pinned_ids() - base_u)
    assert pinned_unmanaged >= 3  # the flow really does pin internal state

    base_m = pinned_ids()
    out_managed = run_training_data_pipeline(spark, docs, **kwargs)
    rows_managed = sorted(map(tuple, out_managed.collect()))
    pinned_managed = len(pinned_ids() - base_m)

    assert rows_managed == rows_plain  # boundaries change nothing
    # everything except the final boundary (an ancestor of the returned
    # frame) must have been released during construction
    assert pinned_managed < pinned_unmanaged
    assert pinned_managed <= 2


def test_training_pipeline_stage_hook_with_managed_storage(spark):
    """A stage_hook composes with the managed storage lifecycle (the way
    a tracer drives the pipeline): the hook sees
    every stage boundary AFTER the managed eager checkpoint (so its frame
    is a self-contained LogicalRDD it can act on, e.g. count it), whatever
    the hook returns feeds the next stage, released boundaries never break
    a later stage, and results stay value-identical to the unhooked
    managed and unmanaged runs."""
    from etl_processes_spark.pipeline import run_training_data_pipeline

    span = "copy of the shared boilerplate passage that repeats everywhere"
    rows = [
        (i, f"document number {i} talks about the weather in town today " + span)
        for i in range(12)
    ] + [
        (100 + i, f"unique essay {i} on the art of cooking fine meals for friends")
        for i in range(6)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    kwargs = dict(
        min_quality=0.0, langs=("en",), pack_budget=32,
        near_dup_threshold=0.5, span_dedup_k=4, span_dedup_min_df=3,
        filter_repetitive=True,
    )

    def pinned_ids() -> set:
        # ids, not a count: the JVM context cleaner may unpersist RDDs that
        # earlier tests leaked while this test runs, so a count delta can
        # go negative; only ids new since the baseline belong to this test
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    plain = sorted(
        map(tuple, run_training_data_pipeline(
            spark, docs, manage_storage=False, **kwargs
        ).collect())
    )

    seen: list[tuple[str, int]] = []

    def hook(stage, frame):
        # an eager consumer: counting here recomputes nothing when the
        # boundary was checkpointed by the managed lifecycle first
        seen.append((stage, frame.count()))
        return frame

    base = pinned_ids()
    out = run_training_data_pipeline(
        spark, docs, stage_hook=hook, manage_storage=True, **kwargs
    )
    got = sorted(map(tuple, out.collect()))
    pinned = len(pinned_ids() - base)

    assert got == plain
    assert len(seen) >= 4  # the hook really fired at the stage boundaries
    assert all(n >= 0 for _, n in seen)
    assert pinned <= 2  # boundaries still released with a hook present
