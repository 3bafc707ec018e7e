"""Text-analysis operator tests, cross-checked against DuckDB (the same SQL
twins used by the oracle gate) on a small corpus."""

import duckdb
import pytest
from pyspark.sql import functions as F

from etl_processes_spark.ops.textstats import (
    fingerprint,
    lang_id_exprs,
    quality_features,
    token_count_expr,
    winnowing_fingerprints,
)

DOCS = [
    (0, "The quick brown fox is in the yard."),
    (1, "der hund und die katze das ist gut"),
    (2, "el gato es una mascota que vive en la casa"),
    (3, "le chat est dans les jardins qui sont grands"),
    (4, "xyzzy qwerty plugh"),                    # no markers → und
    (5, ""),                                      # empty
    (6, "a b c 123 !!! mixed-content: 42% done"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_token_count(docs):
    counted = docs.select(
        "doc_id",
        token_count_expr("text").alias("n_tokens"),
        F.length(F.col("text").cast("string")).alias("n_chars_measured"),
    )
    rows = {r["doc_id"]: r for r in counted.collect()}
    assert rows[0]["n_tokens"] == 8
    assert rows[5]["n_tokens"] == 0
    assert rows[6]["n_tokens"] == 8  # a b c 123 mixed content 42 done
    assert rows[0]["n_chars_measured"] == len(DOCS[0][1])


def test_lang_id_markers(docs):
    pred_lang, _ = lang_id_exprs("text")
    rows = {
        r["doc_id"]: r["pred_lang"]
        for r in docs.select("doc_id", pred_lang.alias("pred_lang")).collect()
    }
    assert rows[0] == "en"
    assert rows[1] == "de"
    assert rows[2] == "es"
    assert rows[3] == "fr"
    assert rows[4] == "und"
    assert rows[5] == "und"


def test_quality_features_bounds(docs):
    rows = {r["doc_id"]: r for r in quality_features(docs, "doc_id", "text").collect()}
    for r in rows.values():
        assert 0.0 <= r["quality_score"] <= 1.0
        assert 0.0 <= r["alpha_ratio"] <= 1.0
    assert rows[5]["quality_score"] == 0.0
    assert rows[0]["stopword_ratio"] > rows[4]["stopword_ratio"]


def test_fingerprint_is_normalization_invariant(spark):
    df = spark.createDataFrame(
        [(0, "Hello,   World!"), (1, "hello world"), (2, "different")],
        ["doc_id", "text"],
    )
    fps = {r["doc_id"]: r["fingerprint"] for r in fingerprint(df, "doc_id", "text").collect()}
    assert fps[0] == fps[1] != fps[2]


def test_fingerprint_matches_duckdb_md5(docs):
    spark_fp = {
        r["doc_id"]: r["fingerprint"] for r in fingerprint(docs, "doc_id", "text").collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", DOCS)
    duck = dict(
        con.execute(
            "SELECT doc_id, md5(coalesce(array_to_string("
            "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''), ' '), '')) FROM d"
        ).fetchall()
    )
    assert spark_fp == duck


def test_winnowing_shape(docs):
    rows = {r["doc_id"]: r["fingerprints"] for r in
            winnowing_fingerprints(docs, "doc_id", "text", k=3, window=4).collect()}
    assert len(rows[0]) >= 1
    # identical docs → identical fingerprint sets
    assert rows[4] is not None


# ---------------------------------------------------------------------------
# repetition_stats
# ---------------------------------------------------------------------------


def test_repetition_stats_values(spark):
    from etl_processes_spark.ops.textstats import repetition_stats

    df = spark.createDataFrame(
        [
            (0, "a a a a"),          # maximal repetition
            (1, "a b c d"),          # no repetition
            (2, "a b"),              # too short for 3-grams
            (3, ""),                 # empty
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in repetition_stats(df, "doc_id", "text").collect()}
    r0 = rows[0]
    assert r0["n_tokens"] == 4
    assert r0["distinct_token_ratio"] == 0.25
    assert r0["top_token_frac"] == 1.0
    assert abs(r0["dup_2gram_frac"] - (1 - 1 / 3)) < 1e-6
    assert r0["dup_3gram_frac"] == 0.5
    assert r0["repetitive"] is True
    r1 = rows[1]
    assert r1["distinct_token_ratio"] == 1.0
    assert r1["top_token_frac"] == 0.25
    assert r1["dup_2gram_frac"] == 0.0 and r1["dup_3gram_frac"] == 0.0
    assert r1["repetitive"] is False
    r2 = rows[2]
    assert r2["n_tokens"] == 2 and r2["dup_3gram_frac"] == 0.0
    r3 = rows[3]
    assert r3["n_tokens"] == 0
    assert r3["top_token_frac"] == 0.0 and r3["repetitive"] is False


def test_repetition_stats_duplicate_ids(spark):
    from etl_processes_spark.ops.textstats import repetition_stats

    df = spark.createDataFrame(
        [(7, "a a a a a a"), (7, "a b c d e f")], ["doc_id", "text"]
    )
    out = repetition_stats(df, "doc_id", "text").collect()
    assert len(out) == 2  # distinct texts stay separate, even under id collision
    fracs = sorted(r["top_token_frac"] for r in out)
    assert fracs == [round(1 / 6, 6), 1.0]  # outputs are rounded to 6dp


def test_repetition_stats_exact_duplicate_rows_collapse(spark):
    """Exact (id, text) duplicate rows collapse to ONE output row with
    SINGLE-COPY values (the deterministic xxhash64 row key, same semantics
    as quality_features / text_analysis_features) — per-token counts are
    divided by the group multiplicity, so top_token_frac is per-copy."""
    from etl_processes_spark.ops.textstats import repetition_stats

    df = spark.createDataFrame(
        [(9, "a a b"), (9, "a a b"), (9, "a a b")], ["doc_id", "text"]
    )
    out = repetition_stats(df, "doc_id", "text").collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_tokens"] == 3
    assert abs(r["top_token_frac"] - round(2 / 3, 6)) < 1e-9  # not 6/3
    assert abs(r["distinct_token_ratio"] - round(2 / 3, 6)) < 1e-9


def _repetition_stats_expr(df, id_col, text_col, max_dup_3gram=0.5,
                           max_top_token=0.3, ndigits=6):
    """Pure-Catalyst reference for repetition_stats: the same per-row counts
    as array expressions (longest run in array_sort via a scalar
    aggregate() fold + array_distinct). The token array is checkpointed
    because Catalyst does not CSE higher-order functions across the seven
    consumer expressions."""
    from etl_processes_spark.ops.dedup import grams_from_tokens_expr, tokens_expr
    from etl_processes_spark.partitioning import track_checkpoint, widen

    toks = F.coalesce(tokens_expr(text_col), F.array().cast("array<string>"))
    base_cols = [
        F.col(id_col),
        F.xxhash64(F.col(text_col).cast("string")).alias("__rid"),
        toks.alias("__toks"),
    ]
    agg_first = [
        F.first(f"__{k}").alias(f"__{k}")
        for k in ("n", "t2", "d2", "t3", "d3", "dtok", "top")
    ]
    toks_frame = track_checkpoint(
        widen(df, per_mb=2.0).select(*base_cols).localCheckpoint(eager=False)
    )
    g2 = grams_from_tokens_expr(F.col("__toks"), 2)
    g3 = grams_from_tokens_expr(F.col("__toks"), 3)
    # longest run of equal tokens in the sorted array == occurrence count
    # of the most frequent token; null-safe <=> handles the null initial
    # prev
    top_expr = F.expr(
        """aggregate(
             array_sort(__toks),
             named_struct('prev', cast(null as string),
                          'run', cast(0 as bigint),
                          'best', cast(0 as bigint)),
             (acc, t) -> named_struct(
                 'prev', t,
                 'run', IF(t <=> acc.prev, acc.run + 1, cast(1 as bigint)),
                 'best', greatest(acc.best,
                                  IF(t <=> acc.prev, acc.run + 1,
                                     cast(1 as bigint)))),
             acc -> acc.best)"""
    ).cast("double")
    stats = (
        toks_frame.select(
            F.col(id_col),
            F.col("__rid"),
            F.size("__toks").cast("double").alias("__n"),
            F.size(g2).cast("double").alias("__t2"),
            F.size(F.array_distinct(g2)).cast("double").alias("__d2"),
            F.size(g3).cast("double").alias("__t3"),
            F.size(F.array_distinct(g3)).cast("double").alias("__d3"),
            F.size(F.array_distinct("__toks")).cast("double").alias("__dtok"),
            top_expr.alias("__top"),
        )
        .groupBy(id_col, "__rid")
        .agg(*agg_first)
    )
    n = F.col("__n")
    top_frac = F.when(n > 0, F.col("__top") / n).otherwise(F.lit(0.0))
    dup2 = F.when(F.col("__t2") > 0, 1.0 - F.col("__d2") / F.col("__t2")).otherwise(F.lit(0.0))
    dup3 = F.when(F.col("__t3") > 0, 1.0 - F.col("__d3") / F.col("__t3")).otherwise(F.lit(0.0))
    return stats.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        F.round(F.when(n > 0, F.col("__dtok") / n).otherwise(F.lit(0.0)), ndigits).alias(
            "distinct_token_ratio"
        ),
        F.round(top_frac, ndigits).alias("top_token_frac"),
        F.round(dup2, ndigits).alias("dup_2gram_frac"),
        F.round(dup3, ndigits).alias("dup_3gram_frac"),
        ((dup3 >= max_dup_3gram) | (top_frac >= max_top_token)).alias("repetitive"),
    )


def test_repetition_stats_kernels_identical(spark):
    """The vectorized Arrow kernel and the pure-Catalyst expression fold
    must be value-identical on every row — edge docs (empty, 1-token,
    2-token, all-same, punctuation-only) plus a real corpus slice."""
    from etl_processes_spark.ops.textstats import repetition_stats

    edge = spark.createDataFrame(
        [
            (0, "a a a a"),
            (1, "a b c d"),
            (2, "a b"),
            (3, ""),
            (4, "x"),
            (5, "?!.,;"),
            (6, "the the cat the the cat the"),
            (7, None),
        ],
        ["doc_id", "text"],
    )
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for df in (edge, docs):
        a = repetition_stats(df, "doc_id", "text").orderBy("doc_id")
        e = _repetition_stats_expr(df, "doc_id", "text").orderBy("doc_id")
        assert a.collect() == e.collect()


def test_pii_scrub_pregate_null_and_tokenless(spark):
    """The contains() pre-gate must preserve the exact ungated semantics:
    NULL text → NULL clean_text and NULL counts; text without '@'/'-' →
    zero counts, text unchanged; PII-bearing text still redacted+counted."""
    from etl_processes_spark.ops.textstats import pii_scrub

    df = spark.createDataFrame(
        [
            (0, None),
            (1, "no pii here at all"),
            (2, "mail a.b@example.com and c@d.io"),
            (3, "call 12-345-678-9012 now"),
            (4, "dash-only, no phone shape"),
        ],
        ["id", "text"],
    )
    rows = {r["id"]: r for r in pii_scrub(df, "id", "text").collect()}
    assert rows[0]["clean_text"] is None
    assert rows[0]["n_emails"] is None and rows[0]["n_phones"] is None
    assert rows[1]["clean_text"] == "no pii here at all"
    assert rows[1]["n_emails"] == 0 and rows[1]["n_phones"] == 0
    assert rows[2]["clean_text"] == "mail <EMAIL> and <EMAIL>"
    assert rows[2]["n_emails"] == 2
    assert rows[3]["clean_text"] == "call <PHONE> now"
    assert rows[3]["n_phones"] == 1
    assert rows[4]["clean_text"] == "dash-only, no phone shape"
    assert rows[4]["n_phones"] == 0


# ---------------------------------------------------------------------------
# pii_scrub
# ---------------------------------------------------------------------------


def test_pii_scrub(spark):
    from etl_processes_spark.ops.textstats import pii_scrub

    df = spark.createDataFrame(
        [
            (0, "mail bob.smith+x@example.co.uk or call 25-989-741-2988 now"),
            (1, "no pii here"),
            (2, "two mails a@b.io c@d.org and 13-555-111-2222 plus 99-123-456-7890"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in pii_scrub(df, "doc_id", "text").collect()}
    assert rows[0]["n_emails"] == 1 and rows[0]["n_phones"] == 1
    assert "<EMAIL>" in rows[0]["clean_text"] and "<PHONE>" in rows[0]["clean_text"]
    assert "bob.smith" not in rows[0]["clean_text"]
    assert "2988" not in rows[0]["clean_text"]
    assert rows[1]["n_emails"] == 0 and rows[1]["n_phones"] == 0
    assert rows[1]["clean_text"] == "no pii here"
    assert rows[2]["n_emails"] == 2 and rows[2]["n_phones"] == 2


def test_pii_scrub_matches_duckdb(spark):
    """The exact patterns must behave identically under Java regex and RE2."""
    from etl_processes_spark.ops.textstats import EMAIL_PATTERN, PHONE_PATTERN, pii_scrub

    texts = [
        (0, "mail bob.smith+x@example.co.uk or call 25-989-741-2988 now"),
        (1, "edge a@b.c x@y.io trailing dot a@b. 1-2-3-4 25-989-741-29880"),
        (2, "UPPER@CASE.COM mid25-989-741-2988end"),
    ]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["clean_text"], r["n_emails"], r["n_phones"])
        for r in pii_scrub(df, "doc_id", "text").collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", texts)
    duck = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(
            f"SELECT doc_id, regexp_replace(regexp_replace(text, '{EMAIL_PATTERN}', '<EMAIL>', 'g'),"
            f" '{PHONE_PATTERN}', '<PHONE>', 'g'),"
            f" len(regexp_extract_all(text, '{EMAIL_PATTERN}')),"
            f" len(regexp_extract_all(text, '{PHONE_PATTERN}')) FROM t"
        ).fetchall()
    }
    assert got == duck


def test_unigram_logprob_score(spark):
    import math

    from etl_processes_spark.ops.textstats import unigram_logprob_score

    docs = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the the"), (3, "   "), (4, "zzyzx")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["unigram_logprob"] for r in
           unigram_logprob_score(docs, "doc_id", "text").collect()}
    # corpus counts: the=3, cat=1, sat=1, zzyzx=1 -> N=6
    n = 6.0
    exp1 = round((math.log(3 / n) + math.log(1 / n) + math.log(1 / n)) / 3, 6)
    exp2 = round(math.log(3 / n), 6)
    assert out[1] == exp1
    assert out[2] == exp2
    assert out[3] is None                       # token-less doc survives as NULL
    assert out[4] == round(math.log(1 / n), 6)  # rare-token doc scores lowest
    assert out[4] < out[2]

    # pre-built corpus LM: new batch scored against the ORIGINAL counts
    from pyspark.sql import functions as F
    counts = spark.createDataFrame([("the", 3), ("cat", 1), ("sat", 1), ("zzyzx", 1)],
                                   ["token", "c"])
    batch = spark.createDataFrame([(9, "cat cat")], ["doc_id", "text"])
    got = unigram_logprob_score(batch, "doc_id", "text", counts_df=counts).first()
    assert got["unigram_logprob"] == round(math.log(1 / 6.0), 6)

    # partition-invariant
    a = sorted(out.items())
    b = sorted(
        (r["doc_id"], r["unigram_logprob"])
        for r in unigram_logprob_score(docs.repartition(7), "doc_id", "text").collect()
    )
    assert a == b


def test_unigram_frozen_lm_oov_floor(spark):
    from etl_processes_spark.ops.textstats import unigram_logprob_score

    corpus = spark.createDataFrame(
        [(0, "the cat sat on the mat"), (1, "the dog sat on the rug")],
        ["doc_id", "text"],
    )
    from etl_processes_spark.ops.dedup import tokens_expr
    counts = (
        corpus.select(F.explode(tokens_expr("text")).alias("token"))
        .groupBy("token").count().withColumnRenamed("count", "c")
    )
    batch = spark.createDataFrame(
        [(10, "the cat sat"),                     # all in-vocab
         (11, "the asdkjh qwpoeiru zzkjhg"),      # 3 OOV of 4 tokens
         (12, "xqzzv wplk jjhq")],                # all OOV
        ["doc_id", "text"],
    )
    s = {r["doc_id"]: r["unigram_logprob"]
         for r in unigram_logprob_score(batch, "doc_id", "text", counts_df=counts).collect()}
    # gibberish must score BELOW prose (inner join used to score doc 11 on
    # 'the' alone, above doc 10)
    assert s[11] < s[10]
    assert s[12] is not None and s[12] < s[11]


def test_tfidf_top_terms(spark):
    from pyspark.sql import functions as F

    from etl_processes_spark.ops.textstats import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana common common common"),
            (2, "banana cherry common common"),
            (3, "common cherry"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(docs, "doc_id", "text", k=2)
    got = {(r["id"], r["rank"]): (r["token"], r["tf"], r["df"]) for r in out.collect()}
    # doc 1: apple tf=2 df=1 -> 2.0 beats common tf=3 df=3 -> 1.0 and banana 1/2
    assert got[(1, 1)] == ("apple", 2, 1)
    assert got[(1, 2)] == ("common", 3, 3)
    # doc 3: cherry 1/2 beats common 1/3
    assert got[(3, 1)] == ("cherry", 1, 2)
    assert got[(3, 2)] == ("common", 1, 3)
    # deterministic under repartitioning
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, tfidf_top_terms(docs.repartition(7), "doc_id", "text", k=2).collect()))
    assert a == b

    edge = spark.createDataFrame(
        [
            (0, "aa bb aa cc aa"),
            (1, "bb cc dd"),         # bb/cc tie: rank order falls to the token
            (2, ""),                 # no tokens, no rows
            (3, None),               # NULL text, no rows
            (4, "x yy zzz x yy x"),
            (5, "rr qq pp"),         # all-tie doc: token order, not input order
        ],
        "doc_id long, text string",
    )

    def rows(k, min_token_len):
        out = tfidf_top_terms(edge, "doc_id", "text", k=k, min_token_len=min_token_len)
        return [tuple(r) for r in out.orderBy("id", "rank").collect()]

    assert rows(3, 1) == [
        (0, 1, "aa", 3, 1), (0, 2, "bb", 1, 2), (0, 3, "cc", 1, 2),
        (1, 1, "dd", 1, 1), (1, 2, "bb", 1, 2), (1, 3, "cc", 1, 2),
        (4, 1, "x", 3, 1), (4, 2, "yy", 2, 1), (4, 3, "zzz", 1, 1),
        (5, 1, "pp", 1, 1), (5, 2, "qq", 1, 1), (5, 3, "rr", 1, 1),
    ]
    # min_token_len=2 drops 'x' before tf and df are counted
    assert rows(2, 2) == [
        (0, 1, "aa", 3, 1), (0, 2, "bb", 1, 2),
        (1, 1, "dd", 1, 1), (1, 2, "bb", 1, 2),
        (4, 1, "yy", 2, 1), (4, 2, "zzz", 1, 1),
        (5, 1, "pp", 1, 1), (5, 2, "qq", 1, 1),
    ]


def test_heavy_hitters_rejects_sub_floor_share(spark):
    # below Spark's freqItems floor (1e-4) the no-false-negative contract
    # cannot hold -> loud error, never a silent clamp
    from etl_processes_spark.ops.textstats import heavy_hitters

    df = spark.createDataFrame([("a",)], "v string")
    with pytest.raises(ValueError, match="1e-4"):
        heavy_hitters(df, "v", min_share=1e-5)


def test_text_analysis_features_matches_composed_form(spark):
    """The fused single-aggregate pass must be value-identical to the
    composed form (token_count_expr, lang_id_exprs ⋈ quality_features) — including
    the null-text and empty-text edges where size(null)/filter(null)
    propagate NULL in the expression forms."""
    from pyspark.sql import functions as F

    from etl_processes_spark.ops.textstats import (
        bpe_ish_token_count_expr,
        lang_id_exprs,
        quality_features,
        text_analysis_features,
        token_count_expr,
    )

    df = spark.createDataFrame(
        [
            (0, "the quick brown fox and the lazy dog sit by the river"),
            (1, "der hund und die katze sind nicht ein problem"),
            (2, "el gato es una criatura que duerme"),
            (3, ""),                      # empty text
            (4, None),                    # null text
            (5, "!!! ### $$$ 12345"),     # symbol soup
            (6, "x" * 500),               # one long token
        ],
        "doc_id long, text string",
    )
    pred_lang, lang_score = lang_id_exprs("text")
    composed = (
        df.select(
            "doc_id",
            token_count_expr("text").alias("n_tokens"),
            bpe_ish_token_count_expr("text").alias("n_tokens_bpe"),
            F.length(F.col("text").cast("string")).alias("n_chars_measured"),
            pred_lang.alias("pred_lang"),
            lang_score.alias("lang_score"),
        )
        .join(quality_features(df, "doc_id", "text"), "doc_id")
    )
    fused = text_analysis_features(df, "doc_id", "text")
    cols = sorted(composed.columns)
    a = {r["doc_id"]: tuple(r[c] for c in cols) for r in composed.collect()}
    b = {r["doc_id"]: tuple(r[c] for c in cols) for r in fused.collect()}
    assert composed.select(*cols).dtypes == fused.select(*cols).dtypes
    assert a == b


def test_text_analysis_features_extra_rowwise(spark):
    from pyspark.sql import functions as F

    from etl_processes_spark.ops.textstats import text_analysis_features

    df = spark.createDataFrame(
        [(0, "the cat", "u0"), (1, "le chat les dans", "u1")],
        "doc_id long, text string, src string",
    )
    out = text_analysis_features(
        df, "doc_id", "text",
        extra_rowwise={"src_upper": F.upper("src"), "flag": F.col("doc_id") > 0},
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[0]["src_upper"] == "U0" and rows[0]["flag"] is False
    assert rows[1]["src_upper"] == "U1" and rows[1]["flag"] is True
    assert rows[1]["pred_lang"] == "fr"


def test_text_analysis_family_duplicate_semantics(spark):
    """The whole text-stats family shares ONE duplicate-row contract
    (the deterministic (id, xxhash64(text)) key): exact (id, text)
    duplicate rows collapse to a single output row with per-copy values;
    id-collision rows (same id, different text) stay separate. Pinned here
    for quality_features and text_analysis_features (repetition_stats has
    its own pin above, plus the dupfix gate part in __spark_entry__)."""
    from etl_processes_spark.ops.textstats import (
        quality_features,
        text_analysis_features,
    )

    plain = spark.createDataFrame(
        [(1, "the cat sat"), (1, "a dog ran far"), (2, "le chat les dans")],
        "doc_id long, text string",
    )
    dup = spark.createDataFrame(
        [
            (1, "the cat sat"),
            (1, "the cat sat"),        # exact duplicate → collapses
            (1, "a dog ran far"),      # id collision → separate row
            (2, "le chat les dans"),
            (2, "le chat les dans"),   # exact duplicate → collapses
        ],
        "doc_id long, text string",
    )
    for fn in (quality_features, text_analysis_features):
        a = sorted(
            map(tuple, fn(plain, "doc_id", "text").collect())
        )
        b = sorted(
            map(tuple, fn(dup, "doc_id", "text").collect())
        )
        assert a == b, fn.__name__


def test_pii_token_probe_literals_rejected():
    """The phone pre-gate probes the RAW text for '-' — sound only while
    the email replacement cannot introduce one. A dash-bearing email_token
    (or '@'-bearing phone_token) is rejected up front instead of silently
    skipping redaction in digit-adjacent edge cases (round-11 advice)."""
    import pytest

    from etl_processes_spark.ops.textstats import pii_clean_expr

    with pytest.raises(ValueError, match="email_token"):
        pii_clean_expr("text", email_token="<EMAIL-REDACTED>")
    with pytest.raises(ValueError, match="phone_token"):
        pii_clean_expr("text", phone_token="<PHONE@HOME>")
    pii_clean_expr("text")  # defaults stay valid
