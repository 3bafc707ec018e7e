"""Text-analysis operators for training-data pipelines: token counting,
language-ID heuristic, quality scoring, document fingerprinting.

No reference counterpart (driver-mandated extensions). Everything here is a
pure Column expression — JVM-side, whole-stage-codegen, no Python in the hot
path — and each has a literal DuckDB-SQL twin in __spark_entry__.oracle_sql
(the formulas are written to be expressible identically in both engines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_processes_spark.partitioning import _plan_size_bytes, widen
from etl_processes_spark.ops.dedup import normalized_text_expr, tokens_expr

# ---------------------------------------------------------------------------
# token counting
# ---------------------------------------------------------------------------


def token_count_expr(c: str | Column) -> Column:
    """Whitespace-ish token count (non-alnum-run split, empties dropped)."""
    return F.size(tokens_expr(c))


def bpe_ish_token_count_expr(c: str | Column) -> Column:
    """A BPE-ish upper bound: words + digit runs + punctuation marks each
    count as a token. Semantically regexp_count(lower(x),
    '[a-z]+|[0-9]+|[^a-z0-9\\s]') — the DuckDB oracle twin keeps that one
    spelling — but decomposed (round-10, measured value-identical on the
    full sf10 corpus and 2.4× faster): the ordered alternation is two
    simple-class run counts plus one-per-char punctuation matches, so the
    punct term drops to pure translate() char arithmetic (chars that are
    neither [a-z0-9] nor ASCII \\s — Java \\s is ASCII-only, exactly the 6
    chars below) and only the cheap single-class regexes remain."""
    low = F.lower((F.col(c) if isinstance(c, str) else c).cast("string"))
    alnum_cnt = F.length(low) - F.length(
        F.translate(low, "abcdefghijklmnopqrstuvwxyz0123456789", "")
    )
    ws_cnt = F.length(low) - F.length(F.translate(low, " \t\n\x0b\f\r", ""))
    punct = F.length(low) - alnum_cnt - ws_cnt
    return (
        F.regexp_count(low, F.lit("[a-z]+"))
        + F.regexp_count(low, F.lit("[0-9]+"))
        + punct
    )


# ---------------------------------------------------------------------------
# language identification (marker-token heuristic)
# ---------------------------------------------------------------------------

# Tiny high-frequency marker sets. Scoring = count of marker-token hits per
# language; argmax with fixed priority order (en first) for ties; 'und' when
# no marker hits at all.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "es": ("el", "la", "los", "las", "es", "una", "que"),
    "fr": ("le", "les", "des", "est", "une", "dans", "qui"),
}
LANG_ORDER = ("en", "de", "es", "fr")


def _marker_hits(toks: Column, markers: tuple[str, ...]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*markers)))


def lang_id_exprs(text_col: str | Column) -> tuple[Column, Column]:
    """(pred_lang, lang_score) as plain Column expressions — composable into
    a wider single-pass select (pipelines should not pay an id-keyed join
    for a row-wise expression)."""
    toks = tokens_expr(text_col)
    scores = {lang: _marker_hits(toks, m) for lang, m in LANG_MARKERS.items()}
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    for lang in reversed(LANG_ORDER):
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best == 0, F.lit("und")).otherwise(pred)
    return pred, best.cast("long")


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------

STOPWORDS = (
    "the", "a", "an", "of", "and", "or", "to", "in", "is", "it", "on", "for",
    "with", "as", "at", "by", "be",
)

# one Arrow struct per doc: everything quality scoring + language ID need
# from the token stream, in a single vectorized pass
_TOKEN_STATS_SCHEMA = (
    "cnt double, stop double, toklen double, "
    + ", ".join(f"hit_{lang} double" for lang in LANG_MARKERS)
)


def _token_stats_batch(toks_values) -> "pd.DataFrame":
    """Vectorized per-doc token stats for one Arrow batch of token arrays:
    token count, stopword hits, total token length, per-language marker
    hits. Replaces the posexplode → hash-aggregate form (round-10): the
    exploded stream paid 5 isin probes + a group-hash per TOKEN row and was
    the composed pipeline's CPU wall (score_filter, ~60% of sf100 e2e).
    Here the whole batch flattens into ONE token array, membership runs as
    hash-based pandas isin over the flat array, and per-doc sums come from
    cumulative-sum differences at the row boundaries — O(total tokens) in
    C, no per-row Python beyond the flatten loop. Integer cumsums are
    int64-exact. Null/empty token arrays yield all-zero rows (the callers'
    JVM-side null flag reproduces the legacy size(NULL) = -1 outputs)."""
    import numpy as np
    import pandas as pd

    n = len(toks_values)
    seg = np.zeros(n + 1, dtype=np.int64)
    parts = []
    for i, t in enumerate(toks_values):
        k = 0 if t is None else len(t)
        seg[i + 1] = seg[i] + k
        if k:
            parts.append(t)
    out = {"cnt": (seg[1:] - seg[:-1]).astype(np.float64)}
    per_tok: dict[str, "np.ndarray"] = {}
    if parts:
        fs = pd.Series(np.concatenate(parts))
        per_tok["toklen"] = fs.str.len().to_numpy(dtype=np.int64)
        per_tok["stop"] = fs.isin(STOPWORDS).to_numpy(dtype=np.int64)
        for lang, m in LANG_MARKERS.items():
            per_tok[f"hit_{lang}"] = fs.isin(m).to_numpy(dtype=np.int64)
    for name in ("stop", "toklen", *(f"hit_{lang}" for lang in LANG_MARKERS)):
        if parts:
            cs = np.concatenate(([0], np.cumsum(per_tok[name])))
            out[name] = (cs[seg[1:]] - cs[seg[:-1]]).astype(np.float64)
        else:
            out[name] = np.zeros(n)
    return pd.DataFrame(out)[
        ["cnt", "stop", "toklen", *(f"hit_{lang}" for lang in LANG_MARKERS)]
    ]


def _token_stats_udf():
    return F.pandas_udf(
        lambda s: _token_stats_batch(s.to_numpy()), _TOKEN_STATS_SCHEMA
    )


_ALNUM_SPACE = "abcdefghijklmnopqrstuvwxyz0123456789 "


def alpha_chars_expr(s: Column) -> Column:
    """Count of [a-z0-9 ] chars in lower(s), as a double. Value-identical
    to length(regexp_replace(lower(s), '[^a-z0-9 ]', '')) — the oracle
    twin keeps that spelling — but computed as length minus a translate()
    deletion: translate is a per-char table lookup, no regex engine and no
    rebuilt string. The regexp_replace form was the single hottest
    expression in the composed pipeline's score stage (28-30s of the ~30s
    sf10 text_analysis line; round-10 measurement). NULL propagates
    identically (length(NULL) = NULL)."""
    low = F.lower(s)
    return (F.length(low) - F.length(F.translate(low, _ALNUM_SPACE, ""))).cast(
        "double"
    )


def quality_features(df: DataFrame, id_col: str, text_col: str, ndigits: int = 6) -> DataFrame:
    """Per-doc quality features + a composite score in [0, 1]:
      - len_score: min(n_tokens / 100, 1)           (favor longer docs)
      - alpha_ratio: alnum-ish chars / total chars  (penalize symbol soup)
      - stopword_ratio: stopword tokens / tokens    (natural-language prior)
      - mean_token_len
      score = 0.4*len_score + 0.3*alpha_ratio + 0.3*min(stopword_ratio*5, 1)
    All expressible identically in DuckDB (the oracle twin)."""
    # Token-level stats come from the vectorized Arrow kernel — one batch
    # pass over the token arrays (round-10; the posexplode + hash-aggregate
    # form before it paid 5 isin probes + a group hash per TOKEN row, and
    # the array-lambda form before THAT evaluated interpreted). Row identity
    # is the DETERMINISTIC (id, text-hash) pair (retry-safe — see
    # text_analysis_features); exact (id, text) duplicate rows collapse to
    # one output row with single-copy values (the kernel computes per-copy
    # stats row-wise, so first() reads identical values in every copy).
    s = (F.col(text_col)).cast("string")
    kern = _token_stats_udf()
    base = widen(df, per_mb=2.0).select(
        F.col(id_col),
        F.xxhash64(s).alias("__rid"),
        kern(tokens_expr(text_col)).alias("__s"),
        F.length(s).cast("double").alias("__n_chars"),
        alpha_chars_expr(s).alias("__alpha"),
    )
    agg = (
        base.select(
            id_col, "__rid", "__n_chars", "__alpha",
            F.col("__s.cnt").alias("__n_tok"),
            F.col("__s.stop").alias("__stop"),
            F.col("__s.toklen").alias("__toklen"),
        )
        .groupBy("__rid", id_col)
        .agg(
            F.first("__n_chars").alias("__n_chars"),
            F.first("__alpha").alias("__alpha"),
            F.first("__n_tok").alias("__n_tok"),
            F.first("__stop").alias("__stop"),
            F.first("__toklen").alias("__toklen"),
        )
    )
    n_tok, n_chars = F.col("__n_tok"), F.col("__n_chars")
    len_score = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    alpha_ratio = F.when(n_chars > 0, F.col("__alpha") / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tok > 0, F.col("__stop") / n_tok).otherwise(F.lit(0.0))
    mean_tok_len = F.when(n_tok > 0, F.col("__toklen") / n_tok).otherwise(F.lit(0.0))
    score = (
        F.lit(0.4) * len_score
        + F.lit(0.3) * alpha_ratio
        + F.lit(0.3) * F.least(stop_ratio * 5, F.lit(1.0))
    )
    return agg.select(
        F.col(id_col),
        F.round(len_score, ndigits).alias("len_score"),
        F.round(alpha_ratio, ndigits).alias("alpha_ratio"),
        F.round(stop_ratio, ndigits).alias("stopword_ratio"),
        F.round(mean_tok_len, ndigits).alias("mean_token_len"),
        F.round(score, ndigits).alias("quality_score"),
    )


def text_analysis_features(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ndigits: int = 6,
    extra_rowwise: dict[str, Column] | None = None,
) -> DataFrame:
    """Fused text-analysis pass: token counts + language ID + quality
    features (+ optional caller row-wise columns) in ONE tokenize →
    Arrow-kernel → collapse pass. Value-identical to selecting
    token_count_expr, bpe_ish_token_count_expr and lang_id_exprs and joining
    quality_features on the id, but without that id-keyed join shuffle
    and — the real cost — without re-evaluating the
    interpreted tokenize pipeline per consumer: higher-order functions are
    never subexpression-eliminated, so the column-composition form
    (token_count_expr + 4 _marker_hits + the argmax when-chain referencing
    every score twice) re-tokenizes each row ~12×. tokens_expr runs once
    JVM-side; every token-level stat (count, stopword hits, token-length
    sum, 4 marker hits) comes from the vectorized `_token_stats_batch`
    Arrow kernel in one batch pass. History of this hot path: the round-7
    posexplode → hash-aggregate form partial-aggregated map-side but paid
    5 isin probes + a group hash per TOKEN row — ~60% of the composed
    sf100 pipeline (score_filter 397-465s, round-8 attribution); the
    round-10 kernel removes the explosion entirely (same family win as
    repetition_stats: 16× at sf10 on that operator).

    ``extra_rowwise``: name → Column of additional row-wise expressions
    (e.g. URL-curation columns, or the text itself for pipelines that need
    it downstream) returned alongside the features. With no token
    explosion they ride the SAME select — no extras join; each row's
    payload crosses the single collapse shuffle once, exactly like before.

    Row identity through the collapse is DETERMINISTIC: the grouping key
    is (id, xxhash64(text)), not a monotonically_increasing_id — so task
    retries / speculative re-execution can never re-key a row (a
    nondeterministic id can duplicate or drop aggregate rows when a lost
    partition is recomputed). Rows that are exact (id, text) duplicates
    collapse into ONE output row with SINGLE-COPY values: the kernel
    computes per-copy stats row-wise, so first() reads identical values in
    every copy of a group."""
    from etl_processes_spark.ops.dedup import tokens_expr

    s = F.col(text_col).cast("string")
    extra = dict(extra_rowwise or {})
    kern = _token_stats_udf()
    toks = tokens_expr(text_col)
    base = widen(df, per_mb=2.0).select(
        F.col(id_col),
        F.xxhash64(s).alias("__rid"),
        # size(null)/filter(null) propagate NULL in the expression forms —
        # the flag reproduces that for null text (the kernel yields zeros)
        toks.isNull().alias("__tnull"),
        kern(toks).alias("__s"),
        F.length(s).alias("__nchars_i"),
        alpha_chars_expr(s).alias("__alpha"),
        bpe_ish_token_count_expr(text_col).alias("__bpe"),
        *[v.alias(f"__x_{k}") for k, v in extra.items()],
    )
    flat_cols = [
        F.col("__s.cnt").alias("__cnt"),
        F.col("__s.stop").alias("__stop"),
        F.col("__s.toklen").alias("__toklen"),
        *[
            F.col(f"__s.hit_{lang}").cast("long").alias(f"__hit_{lang}")
            for lang in LANG_MARKERS
        ],
    ]
    agg = (
        base.select(
            id_col, "__rid", "__tnull", "__nchars_i", "__alpha", "__bpe",
            *flat_cols,
            *[F.col(f"__x_{k}") for k in extra],
        )
        .groupBy(id_col, "__rid")
        .agg(
            *[
                F.first(c).alias(c)
                for c in (
                    "__tnull", "__nchars_i", "__alpha", "__bpe",
                    "__cnt", "__stop", "__toklen",
                    *(f"__hit_{lang}" for lang in LANG_MARKERS),
                    *(f"__x_{k}" for k in extra),
                )
            ]
        )
    )
    n_tok = F.col("__cnt").cast("double")
    n_chars = F.col("__nchars_i").cast("double")
    len_score = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    alpha_ratio = F.when(n_chars > 0, F.col("__alpha") / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tok > 0, F.col("__stop") / n_tok).otherwise(F.lit(0.0))
    mean_tok_len = F.when(n_tok > 0, F.col("__toklen") / n_tok).otherwise(F.lit(0.0))
    score = (
        F.lit(0.4) * len_score
        + F.lit(0.3) * alpha_ratio
        + F.lit(0.3) * F.least(stop_ratio * 5, F.lit(1.0))
    )
    # null-text parity with the expression forms: size(filter(NULL)) = -1
    # under the (default) legacy sizeOfNull, so the composed form reports
    # n_tokens = -1 and every marker score -1 → best = -1 ≠ 0 → the argmax
    # when-chain resolves to "en" (first in LANG_ORDER). Reproduced exactly.
    hit = {
        lang: F.when(F.col("__tnull"), F.lit(-1)).otherwise(F.col(f"__hit_{lang}"))
        for lang in LANG_ORDER
    }
    best = F.greatest(*[hit[lang] for lang in LANG_ORDER])
    pred = F.lit("und")
    for lang in reversed(LANG_ORDER):
        pred = F.when(hit[lang] == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best == 0, F.lit("und")).otherwise(pred)
    feats = agg.select(
        F.col(id_col),
        F.col("__rid"),
        F.when(F.col("__tnull"), F.lit(-1))
        .otherwise(F.col("__cnt"))
        .cast("int")
        .alias("n_tokens"),
        F.col("__bpe").alias("n_tokens_bpe"),
        F.col("__nchars_i").alias("n_chars_measured"),
        pred.alias("pred_lang"),
        best.cast("long").alias("lang_score"),
        F.round(len_score, ndigits).alias("len_score"),
        F.round(alpha_ratio, ndigits).alias("alpha_ratio"),
        F.round(stop_ratio, ndigits).alias("stopword_ratio"),
        F.round(mean_tok_len, ndigits).alias("mean_token_len"),
        F.round(score, ndigits).alias("quality_score"),
        # extras rode the same collapse (first() is deterministic: every
        # row of a group carries identical extra values — they are
        # row-wise functions of the grouped (id, text) pair); column order
        # matches the historical fused form: extras sit after lang_score
        *[F.col(f"__x_{k}").alias(k) for k in extra],
    )
    if not extra:
        return feats.drop("__rid")
    head = ["n_tokens", "n_tokens_bpe", "n_chars_measured", "pred_lang", "lang_score"]
    tail = [
        c for c in feats.columns
        if c not in (id_col, "__rid", *head, *extra)
    ]
    return feats.select(F.col(id_col), *head, *extra, *tail)


# ---------------------------------------------------------------------------
# intra-document repetition (Gopher-style repetition signals)
# ---------------------------------------------------------------------------


def _rep_stats_batch(toks_values) -> "pd.DataFrame":
    """Vectorized per-doc repetition counts for one Arrow batch of token
    arrays. Exact twin of the expression fold the tests keep: tokens are
    [a-z0-9]+ only (tokens_expr) and grams are space-joined, so integer
    token codes give the same gram identity as the JVM's string grams with
    zero collisions.
    Per doc: pd.factorize (hash, O(n)) → distinct tokens + bincount top
    count; k-gram distincts via shifted code arithmetic (g2 < M², g3 < M³,
    int64-safe for M ≤ 2e6 distinct tokens; exact tuple-set fallback past
    that)."""
    import numpy as np
    import pandas as pd

    n_rows = len(toks_values)
    out = {k: np.zeros(n_rows) for k in ("n", "t2", "d2", "t3", "d3", "dtok", "top")}
    for i, toks in enumerate(toks_values):
        if toks is None:
            continue
        n = len(toks)
        if n == 0:
            continue
        out["n"][i] = n
        codes, uniq = pd.factorize(toks)
        if codes.min() < 0:
            # factorize encodes null elements as -1, which would poison the
            # bincount/shifted-code arithmetic below. tokens_expr never emits
            # null tokens (it filters empties), so this is a contract check,
            # not a reachable path (round-10 advice).
            raise ValueError(
                "_rep_stats_batch: null token in input array — tokens_expr "
                "guarantees non-null tokens; fix the caller, not this kernel"
            )
        m = len(uniq)
        out["dtok"][i] = m
        out["top"][i] = np.bincount(codes).max()
        if n >= 2:
            out["t2"][i] = n - 1
            c = codes.astype(np.int64)
            if m <= 2_000_000:
                g2 = c[:-1] * m + c[1:]
                out["d2"][i] = pd.unique(g2).size
                if n >= 3:
                    out["t3"][i] = n - 2
                    out["d3"][i] = pd.unique(g2[:-1] * m + c[2:]).size
            else:  # >2M distinct tokens in ONE doc: exact, never hit in practice
                out["d2"][i] = len(set(zip(toks, toks[1:])))
                if n >= 3:
                    out["t3"][i] = n - 2
                    out["d3"][i] = len(set(zip(toks, toks[1:], toks[2:])))
    return pd.DataFrame(out)


def repetition_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dup_3gram: float = 0.5,
    max_top_token: float = 0.3,
    ndigits: int = 6,
) -> DataFrame:
    """Per-doc repetition signals for corpus filtering (the Gopher/MassiveText
    repetition rules adapted to token n-grams):

      - n_tokens, distinct_token_ratio
      - top_token_frac: occurrences of the most frequent token / n_tokens
      - dup_2gram_frac / dup_3gram_frac: 1 - distinct/total k-grams
        (0.0 when the doc has no k-grams)
      - repetitive: dup_3gram_frac >= max_dup_3gram OR
        top_token_frac >= max_top_token

    Shape: ENTIRELY row-wise — per-doc stats are functions of one document,
    so no token ever crosses the wire. The token mode (most-frequent-token
    count, distinct-token count) used to be a two-level aggregation over the
    exploded token stream; even with the payload slimmed to (doc-key, token)
    that shuffled+sort-aggregated the corpus's whole token stream (~1G rows,
    11-28 GB spill at sf100 depending on memory pressure). Both stats are
    per-row counts over the document's token array instead. The only
    shuffle left is the duplicate-row collapse — eight doubles per source
    row.

    Row identity is the DETERMINISTIC (id, xxhash64(text)) pair, like
    quality_features / text_analysis_features — a task retry can never
    re-key a row (monotonically_increasing_id could, duplicating or
    dropping aggregate groups when a lost partition recomputes). Exact
    (id, text) duplicate rows collapse into ONE output row; with every
    stat computed per-copy row-wise, no multiplicity normalization is
    needed (the values are identical across copies by construction).

    Kernel: one vectorized pandas_udf computes all seven counts per token
    array (factorize + bincount + shifted-code gram distincts, C-speed hash
    paths). The token array is consumed by a single expression, so no
    checkpoint and no token materialization to disk — tokenize fuses into
    the same stage. Benchmarked 1.8×/2.8×/16× faster than a pure-Catalyst
    expression fold (longest run in array_sort via aggregate()) at
    sf0.1/sf1/sf10 (warm, full 32-CPU host; SCALING.md round 10); that fold
    survives as the value-identical reference in the tests."""
    toks = F.coalesce(tokens_expr(text_col), F.array().cast("array<string>"))
    base_cols = [
        F.col(id_col),
        F.xxhash64(F.col(text_col).cast("string")).alias("__rid"),
        toks.alias("__toks"),
    ]
    keys = ("n", "t2", "d2", "t3", "d3", "dtok", "top")
    kern = F.pandas_udf(
        lambda s: _rep_stats_batch(s.to_numpy()),
        "n double, t2 double, d2 double, t3 double, d3 double, "
        "dtok double, top double",
    )
    # all stats are per-copy row-wise; the groupBy collapses exact
    # (id, text) duplicate rows to one output row (first() reads
    # identical values in every copy of a group)
    stats = (
        widen(df, per_mb=2.0)
        .select(*base_cols)
        .select(F.col(id_col), F.col("__rid"), kern("__toks").alias("__s"))
        .select(
            F.col(id_col),
            F.col("__rid"),
            *[F.col(f"__s.{k}").alias(f"__{k}") for k in keys],
        )
        .groupBy(id_col, "__rid")
        .agg(*[F.first(f"__{k}").alias(f"__{k}") for k in keys])
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


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

# Patterns chosen to evaluate identically under Java regex (Spark) and RE2
# (DuckDB): character classes, bounded quantifiers and \b only.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\b\d{2}-\d{3}-\d{3}-\d{4}\b"  # TPC-H c_phone shape


def pii_clean_expr(
    c: str | Column, email_token: str = "<EMAIL>", phone_token: str = "<PHONE>"
) -> Column:
    """The redaction as a composable Column expression — pipelines apply it
    in-place (withColumn) instead of paying an id-keyed join.

    Each regex pass is pre-gated on a cheap literal ``contains`` probe: the
    email pattern cannot match without an '@' and the phone pattern cannot
    match without a '-', but Java regex still pays a greedy
    consume-and-backtrack attempt at nearly every position of every
    non-matching document (the email pattern's leading [A-Za-z0-9._%+-]+
    matches almost anywhere). Real corpora are mostly PII-free — the
    documents table has literally zero '@' — so the gate turns the common
    case into one memchr-style scan. NULL text stays NULL (``when`` on a
    NULL probe falls through to the otherwise branch, which returns s).

    The phone pre-gate probes the RAW text (see inline note), which is
    sound only while the email replacement cannot INTRODUCE a dash — so a
    dash-bearing ``email_token`` (e.g. '<EMAIL-REDACTED>') is rejected up
    front rather than silently skipping phone redaction in digit-adjacent
    edge cases ('@' in ``phone_token`` rejected for symmetry)."""
    if "-" in email_token:
        raise ValueError(
            f"email_token must not contain '-' (got {email_token!r}): the "
            "phone pre-gate probes the raw text for '-', which is only "
            "sound if email replacement never introduces one"
        )
    if "@" in phone_token:
        raise ValueError(
            f"phone_token must not contain '@' (got {phone_token!r}): "
            "replacement tokens must not reintroduce probe literals"
        )
    s = (F.col(c) if isinstance(c, str) else c).cast("string")
    cleaned = F.when(
        s.contains("@"), F.regexp_replace(s, EMAIL_PATTERN, email_token)
    ).otherwise(s)
    # the phone probe tests the RAW text, not `cleaned`: probing `cleaned`
    # would splice the whole email-replace subtree into the probe (Catalyst
    # has no cross-expression CSE outside codegen subexpr elimination), and
    # it is sound — email replacement never INTRODUCES a '-' (the token has
    # none), so a dash-free raw text stays dash-free after cleaning
    return F.when(
        s.contains("-"), F.regexp_replace(cleaned, PHONE_PATTERN, phone_token)
    ).otherwise(cleaned)


def pii_scrub(
    df: DataFrame,
    id_col: str,
    text_col: str,
    email_token: str = "<EMAIL>",
    phone_token: str = "<PHONE>",
) -> DataFrame:
    """(id, clean_text, n_emails, n_phones): emails and phone numbers
    replaced by placeholder tokens, with per-doc match counts (counted on
    the RAW text, before any replacement). Pure row-wise expressions — one
    scan, codegen'd, no shuffle; the match/replace work is what widen
    spreads for narrow inputs."""
    s = F.col(text_col).cast("string")
    # counts get the same contains() pre-gate as the replacements (see
    # pii_clean_expr): the no-'@' / no-'-' common case never runs a regex.
    # `length(s) * 0` keeps the NULL contract — NULL text yields NULL
    # counts exactly like the ungated regexp_count did, 0 otherwise.
    zero = (F.length(s) * 0).cast("int")
    return widen(df, per_mb=2.0).select(
        F.col(id_col),
        pii_clean_expr(text_col, email_token, phone_token).alias("clean_text"),
        F.when(s.contains("@"), F.regexp_count(s, F.lit(EMAIL_PATTERN)))
        .otherwise(zero)
        .alias("n_emails"),
        F.when(s.contains("-"), F.regexp_count(s, F.lit(PHONE_PATTERN)))
        .otherwise(zero)
        .alias("n_phones"),
    )


# ---------------------------------------------------------------------------
# document fingerprinting
# ---------------------------------------------------------------------------


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, md5 fingerprint of the NORMALIZED text) — whitespace/punct
    variations collapse to the same print; md5 exists in Spark and DuckDB."""
    return widen(df, per_mb=2.0).select(
        F.col(id_col), F.md5(normalized_text_expr(text_col)).alias("fingerprint")
    )


def winnowing_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 5, window: int = 4
) -> DataFrame:
    """Winnowing (Schleimer et al., SIGMOD'03): k-gram rolling hashes, keep
    the min hash of every sliding window → a compact, position-robust
    fingerprint set per document.

    Shape: posexplode the token stream, build each k-gram hash with
    ``lead()`` over a per-doc window (``xxhash64`` over the k token columns —
    no slice/join materialization), rolling min with a ROWS frame, distinct
    per doc. Every step is a codegen'd window/agg over one shuffle keyed by
    doc — the interpreted higher-order-function variant this replaces ran
    ~100 ms/doc (HOF lambdas never reach codegen); this runs at scan speed
    and scales to any corpus (the shuffle key is the doc id, so skew is
    bounded by the longest single document)."""
    from pyspark.sql.window import Window

    from etl_processes_spark.ops.dedup import md5_long_expr

    # md5-derived 60-bit gram hashes (not xxhash64): the DuckDB oracle
    # computes the identical fingerprint set, so winnowing is hash-gated.
    # NULL text behaves like empty text (size(NULL)=NULL would otherwise
    # fail BOTH branch filters and silently drop the doc from the output).
    base = widen(df, per_mb=2.0).select(F.col(id_col).alias("__id"), tokens_expr(text_col).alias("__toks"))
    # Docs with fewer than k tokens (including empty/NULL) keep the single
    # whole-doc hash — same fallback as the classic formulation. Written
    # against ``base`` for readability, but plan-identical to filtering the
    # raw frame: CollapseProject + predicate pushdown re-inline __toks =
    # tokens_expr(text) into both the Filter condition and the projection,
    # so the HOF still evaluates twice on this branch either way (round 12,
    # verified by diffing plans/r12/winnowing_fingerprints_{before,after} —
    # identical modulo expr ids). Truly tokenizing once would need a
    # materialization barrier (_ckpt_wide) — measured separately.
    short = base.filter(F.coalesce(F.size("__toks"), F.lit(0)) < k).select(
        F.col("__id").alias(id_col),
        F.array(
            md5_long_expr(F.coalesce(F.array_join("__toks", " "), F.lit("")))
        ).alias("fingerprints"),
    )
    toks = base.filter(F.coalesce(F.size("__toks"), F.lit(0)) >= k).select(
        "__id", F.posexplode("__toks").alias("pos", "tok")
    )
    w = Window.partitionBy("__id").orderBy("pos")
    gram_cols = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, k)]
    grams = (
        toks.select("__id", "pos", md5_long_expr(F.concat_ws(" ", *gram_cols)).alias("gh"),
                    F.count(F.lit(1)).over(Window.partitionBy("__id")).alias("__n"))
        .filter(F.col("pos") <= F.col("__n") - k)  # drop tail rows with partial grams
    )
    # Rolling min over the next `window` grams; windows past ng-window are
    # incomplete — keep pos 0 anyway when ng < window (min of all grams).
    wf = w.rowsBetween(0, window - 1)
    ng = F.col("__n") - k + 1
    wins = grams.select(
        "__id", "pos", F.min("gh").over(wf).alias("fp"), ng.alias("__ng")
    ).filter((F.col("pos") <= F.col("__ng") - window) | ((F.col("__ng") < window) & (F.col("pos") == 0)))
    agg = wins.groupBy("__id").agg(
        F.array_sort(F.array_distinct(F.collect_list("fp"))).alias("fingerprints")
    )
    return short.unionByName(agg.select(F.col("__id").alias(id_col), "fingerprints"))


def unigram_logprob_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ndigits: int = 6,
    counts_df: DataFrame | None = None,
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram LM: score = avg over the doc's tokens of ln(count(token)/N).
    The classic cheap fluency/quality proxy (KenLM-lite): gibberish,
    boilerplate-free rare-token soup and wrong-language docs score far
    below normal prose, so a percentile cut on this column is a standard
    corpus-quality filter.

    ``counts_df`` lets callers score a stream/batch against a PRE-BUILT
    corpus LM ((token, c) plus an N = sum(c) literal is trivial to derive) —
    the incremental-scoring twin of dedup_incremental's digest table. In
    this mode OUT-OF-VOCABULARY tokens exist (self-scoring has none) and
    each contributes ln(0.5/N) — a half-count floor. An inner join would
    silently DROP them instead, so 'the asdkjh qwpoeiru zzkjhg' would be
    scored on 'the' alone and rare-token soup would sail past the fluency
    floor it exists to enforce.

    Scale shape: one explode + one groupBy(token) to build the LM (the
    unigram table is bounded by vocabulary, not corpus size), one
    shuffle join tokens⋈counts (AQE broadcasts it when the vocab is small),
    one groupBy(doc). Docs with zero tokens get a NULL score (no tokens to
    average — kept, not dropped, so the caller decides)."""
    from etl_processes_spark.ops.dedup import tokens_expr

    tok = df.select(F.col(id_col), F.explode(tokens_expr(text_col)).alias("token"))
    frozen_lm = counts_df is not None
    if not frozen_lm:
        counts_df = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    total = counts_df.agg(F.sum("c").cast("double").alias("n"))
    joined = tok.join(counts_df, "token", "left" if frozen_lm else "inner")
    cnt = F.coalesce(F.col("c").cast("double"), F.lit(0.5)) if frozen_lm else F.col("c")
    scored = (
        joined
        .crossJoin(F.broadcast(total))
        .select(F.col(id_col), (F.log(cnt / F.col("n"))).alias("__lp"))
        .groupBy(id_col)
        .agg(F.round(F.avg("__lp"), ndigits).alias("unigram_logprob"))
    )
    # left join back so token-less docs survive with NULL
    return df.select(id_col).join(scored, id_col, "left")


# ---------------------------------------------------------------------------
# web-corpus curation: URL hosts and registered domains
# ---------------------------------------------------------------------------

# scheme / userinfo stripped, host captured up to port/path/query/fragment.
# RE2-portable (no backrefs/lookarounds) so the DuckDB oracle replays it.
_URL_HOST_RE = r"^(?:[a-z][a-z0-9+.-]*://)?(?:[^@/\s]+@)?([^:/\s?#]+)"


def url_host_expr(c: str | Column) -> Column:
    """Hostname of a URL ('' when the value has no host) — one row-wise
    regexp, fuses into the scan projection."""
    col = F.col(c) if isinstance(c, str) else c
    return F.regexp_extract(F.lower(col.cast("string")), _URL_HOST_RE, 1)


def url_registered_domain_expr(c: str | Column) -> Column:
    """Registered domain = last two host labels ('docs.example.com' →
    'example.com'). A deliberate public-suffix-list-free approximation
    (the PSL is a lookup table — broadcast-join one in when exactness on
    co.uk-style suffixes matters); '' propagates for host-less values."""
    host = url_host_expr(c)
    labels = F.split(host, r"\.")
    return F.when(
        F.size(labels) >= 2, F.concat_ws(".", F.slice(labels, -2, 2))
    ).otherwise(host)


# ---------------------------------------------------------------------------
# corpus-level reporting: heavy hitters and term weights
# ---------------------------------------------------------------------------


def heavy_hitters(
    df: DataFrame,
    col: str,
    min_share: float = 0.001,
    ndigits: int | None = 6,
) -> DataFrame:
    """EXACT frequent-item mining without a full-cardinality shuffle:
    items whose frequency strictly exceeds ``min_share`` of the non-null
    rows, with exact counts — (value, cnt, share), cnt desc / value asc.

    Two-phase candidate/verify (the same philosophy as the dedup family —
    never pay the all-pairs/all-keys cost up front):

    1. CANDIDATES: one scan with Spark's Misra-Gries/Karp ``freqItems``
       sketch — per-partition capped counter maps, merged on the driver, NO
       shuffle. The guarantee is one-sided: every item with share >
       min_share is returned (false positives possible, false NEGATIVES
       impossible), so the candidate set is a superset of the answer and
       its size is bounded by 1/min_share regardless of column cardinality.
    2. VERIFY: exact counts for candidate rows only (broadcast isin filter
       → groupBy). Map-side partial aggregation collapses each candidate to
       one row per partition, so the verify shuffle moves at most
       |candidates| x partitions tiny rows — never the raw value stream.

    The exact filter makes the output independent of sketch fuzz (false
    positives get exact counts and fail the threshold), so the result is
    deterministic and oracle-checkable against a plain GROUP BY ... HAVING.
    A naive groupBy(value) on a 100 TB high-cardinality column shuffles
    every distinct value; this shuffles none of them until they are already
    known to be frequent."""
    c = F.col(col)
    base = df.filter(c.isNotNull())
    n = base.count()
    if n == 0:
        return df.sparkSession.createDataFrame(
            [], "value string, cnt long, share double"
        )
    if min_share < 1e-4:
        # Spark's freqItems floor is 1e-4; below it the sketch can miss
        # items and the exactness contract (no false negatives) would be
        # silently broken. Fail loudly instead of clamping.
        raise ValueError(
            "heavy_hitters requires min_share >= 1e-4 (Spark freqItems "
            f"support floor); got {min_share!r}. For rarer items use a "
            "plain groupBy/HAVING — at that threshold the candidate set "
            "is no longer small enough for the sketch to help."
        )
    cands = base.stat.freqItems([col], support=float(min_share)).collect()[0][0]
    if not cands:
        return df.sparkSession.createDataFrame(
            [], "value string, cnt long, share double"
        )
    thr = float(min_share) * n  # strict >: matches the sketch's guarantee
    share = F.col("cnt") / F.lit(float(n))  # exact operands -> deterministic
    if ndigits is not None:
        share = F.round(share, ndigits)
    return (
        base.filter(c.isin(list(cands)))
        .groupBy(c.cast("string").alias("value"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt").cast("double") > F.lit(thr))
        .withColumn("share", share)
        .orderBy(F.desc("cnt"), F.asc("value"))
    )


def token_heavy_hitters(
    df: DataFrame,
    text_col: str,
    min_share: float = 0.001,
    ndigits: int | None = 6,
) -> DataFrame:
    """heavy_hitters over the exploded token stream of a text column —
    corpus-wide frequent tokens with exact counts. The explode is map-side;
    both phases inherit heavy_hitters' no-full-shuffle shape."""
    toks = df.select(
        F.explode(tokens_expr(text_col)).alias("token")
    )
    return heavy_hitters(toks, "token", min_share=min_share, ndigits=ndigits)


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    min_token_len: int = 1,
) -> DataFrame:
    """Top-``k`` most DISTINCTIVE terms per document: rank tokens by
    tf/df — term frequency in the doc over corpus document frequency
    (rational tf-idf; since the corpus size is constant across a ranking,
    tf·(n/df) and tf/df order identically, and skipping the logarithm
    keeps every comparison an exact IEEE division of small integers, so
    the ranking is bit-reproducible in any engine — a log idf would hang
    ranking ties on libm's last ulp). Ties break on the token, so the
    result is fully deterministic. Returns (id, rank, token, tf, df).

    PRECONDITION: ``id_col`` is unique (one row per document), the shared
    doc-id contract (see ngram_jaccard_pairs).

    Plan: explode → tf agg on (doc, token) → df agg on token → join →
    per-doc top-k window (row_number over (id, score desc, token)). All
    aggs partial-agg'd; the window sort is bounded per doc. At 100 TB the
    (doc, token) agg is the dominant shuffle — the same one any tf
    computation pays, and partial map-side aggregation already collapses it
    to ~distinct pairs before the exchange."""
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("id"), F.explode(tokens_expr(text_col)).alias("token")
    ).filter(F.length("token") >= min_token_len)
    # ONE doc-keyed exchange for the whole query: the natural
    # groupBy(id, token) exchange hashes on (id, token), which scatters
    # each doc's tokens across every partition — so the downstream
    # per-doc top-k needed a SECOND full exchange on id, and Spark's
    # two-phase WindowGroupLimit pruned ~nothing at the partial step
    # (k=3 per doc per partition keeps ~all rows when a doc has ~1-2
    # rows per partition) while still paying a corpus-wide local sort.
    # Repartitioning the occurrence stream by id up front satisfies
    # ClusteredDistribution for both the tf agg and the rank window: one
    # exchange, one sort, no partial window pass. The width is EXPLICIT
    # and derived from the input size: an unsized repartition("id") is
    # AQE-coalesced on COMPRESSED shuffle bytes down to
    # ~defaultParallelism, which at sf100 put ~28M raw occurrence rows
    # behind each aggregate task and sort-spilled 12.6 GB (measured).
    # ~8 MB of source text per reduce task keeps the per-task agg hash +
    # window sort state small; floored at defaultParallelism so a Catalyst
    # underestimate cannot squeeze the stream into one task, and capped at
    # the session's shuffle width.
    spark = df.sparkSession
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    src = _plan_size_bytes(df)
    npart = (
        cap
        if src is None
        else min(cap, max(spark.sparkContext.defaultParallelism, src // (8 << 20) + 1))
    )
    tf = toks.repartition(npart, "id").groupBy("id", "token").agg(
        F.count(F.lit(1)).alias("tf")
    )
    # tf feeds BOTH the document-frequency aggregate and the ranking join.
    # No materialization barrier: a lazy localCheckpoint records
    # UnknownPartitioning under AQE (the final layout isn't known until
    # execution), which put the window's id exchange BACK into the plan.
    # Instead both consumers deliberately share the
    # IDENTICAL Exchange(id) subtree — the physical planner's
    # ReuseExchange rule (and AQE stage reuse) dedups it, so the corpus is
    # scanned/exploded/shuffled once, only the cheap post-exchange
    # aggregation runs per consumer, and the surviving hashpartitioning(id)
    # still feeds the rank window with no exchange of its own
    # (plan-verified: ReusedExchange node in plans/r13).
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("id").orderBy(
        F.desc(F.col("tf").cast("double") / F.col("df")), F.asc("token")
    )
    return (
        tf.join(dfreq, "token")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("id", "rank", "token", "tf", "df")
    )
