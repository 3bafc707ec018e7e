"""Deduplication operators for large-scale training-data pipelines.

No reference counterpart (the reference is a single-table profiler); these are
the driver-mandated extensions (BASELINE.json north star), designed for the
100 TB case:

 - exact dedup: hash-groupBy keyed on content (or its sha2) — one shuffle on
   the content key, partial-agg'd; never a global sort.
 - n-gram Jaccard near-dup: inverted-index self-join on shingles (explode →
   join on shingle → count common) — the join key is the shingle, so hot
   shingles are the skew risk; a document-frequency cap (``max_df``) drops
   ubiquitous shingles, which both fixes skew and removes noise.
 - MinHash + LSH: per-doc signature via min-over-shingles of seeded xxhash64
   (one explode + one groupBy), banded into buckets; candidate pairs only
   join within a bucket (no quadratic blow-up), then exact-Jaccard verified.
 - SimHash: 60-bit sign-sum fingerprint via 60 conditional aggregates over
   exploded token hashes; near-dups = equal fingerprints.

All tokenization/shingling is pure Column expressions (JVM-side, codegen).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_processes_spark.partitioning import (
    collect_bounded, release_checkpoint, track_checkpoint, widen,
)


def _ckpt_wide(df: DataFrame) -> DataFrame:
    """Lazy localCheckpoint for WIDE posting/window streams (hundreds of
    millions of narrow rows at sf100): SERIALIZED memory+disk blocks
    instead of the deserialized default — ~3-5× smaller on heap, evictable
    to disk under pressure, and far gentler on GC. The deserialized default
    OOM'd a 48 g heap holding the 260 M-row duplicate-window stream while
    32 explode tasks allocated against it (sf100 measured).

    Registered with the active checkpoint collector (when one is open):
    composed pipelines release these full-corpus block sets as soon as the
    consuming stage has materialized — keeping every stage's streams pinned
    to job end exhausted the disk at sf100 (round-8 ENOSPC)."""
    return track_checkpoint(
        df.localCheckpoint(eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK)
    )

# ---------------------------------------------------------------------------
# normalization / shingling (shared, expression-only)
# ---------------------------------------------------------------------------


def tokens_expr(c: str | Column) -> Column:
    """lower → split on non-alphanumeric runs → drop empties. Mirrors the
    DuckDB oracle: list_filter(string_split_regex(lower(x),'[^a-z0-9]+'))."""
    col = F.col(c) if isinstance(c, str) else c
    toks = F.split(F.lower(col.cast("string")), "[^a-z0-9]+")
    return F.filter(toks, lambda t: t != "")


def normalized_text_expr(c: str | Column) -> Column:
    """Canonical text: tokens re-joined with single spaces."""
    return F.array_join(tokens_expr(c), " ")


def grams_from_tokens_expr(toks: Column, k: int) -> Column:
    """ALL k-gram strings (space-joined) of a token-array column, duplicates
    KEPT; empty array when the doc has fewer than k tokens. The single
    slicing implementation every gram consumer builds on (shingles_expr
    adds distinct + the short-doc fallback; repetition_stats keeps the
    duplicates — they ARE its signal)."""
    n = F.size(toks)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: F.array_join(F.slice(toks, i, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def let_expr(value: Column, body) -> Column:
    """Let-binding for Column expressions: evaluate ``value`` ONCE per row
    and hand ``body`` a cheap reference to it. Spark's interpreted
    higher-order lambdas re-evaluate captured argument subtrees on every
    lambda call (no CSE — the round-4 lesson), so an expression like
    ``transform(sequence(...), i -> slice(tokens_tree, i, k))`` re-runs the
    whole split+filter token pipeline once PER SHINGLE INDEX: measured as a
    single-core multi-minute straggler on the sf10 decontaminate stage
    (jstack: StringSplit inside ArrayFilter inside the transform lambda).
    Wrapping the subtree as the ARGUMENT of a one-element transform makes
    every inner reference a NamedLambdaVariable lookup instead of a
    recompute — arguments of a higher-order function are evaluated exactly
    once per row."""
    return F.element_at(F.transform(F.array(value), body), 1)


def shingles_expr(c: str | Column, k: int = 3) -> Column:
    """Distinct k-word shingles (space-joined). Docs shorter than k tokens
    contribute their full token string as a single shingle. The token array
    is let-bound (``let_expr``) so the split+filter pipeline runs once per
    row, not once per shingle index."""

    def build(toks: Column) -> Column:
        sh = F.when(
            F.size(toks) >= k, grams_from_tokens_expr(toks, k)
        ).otherwise(F.array(F.array_join(toks, " ")))
        return F.array_distinct(sh)

    return let_expr(tokens_expr(c), build)


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def dedup_exact_keep_min(df: DataFrame, id_col: str, key: Column | str) -> DataFrame:
    """Keep the row with the smallest id per content key — deterministic
    survivor choice (dropDuplicates keeps an arbitrary row). Returns
    (id_col, __key). One shuffle on the key."""
    key_col = F.col(key) if isinstance(key, str) else key
    return (
        df.select(F.col(id_col), key_col.alias("__key"))
        .groupBy("__key")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col, "__key")
    )


def content_hash_expr(c: str | Column) -> Column:
    """sha2-256 content fingerprint over normalized text."""
    return F.sha2(normalized_text_expr(c).cast("string"), 256)


# ---------------------------------------------------------------------------
# line-level (boilerplate) dedup
# ---------------------------------------------------------------------------


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n",
    max_doc_freq: int = 1,
    join_sep: str | None = None,
) -> DataFrame:
    """CCNet/C4-style boilerplate-line removal: any line whose NORMALIZED
    form occurs in more than ``max_doc_freq`` distinct documents is dropped
    from EVERY document (nav bars, cookie banners, license headers — the
    lines exact whole-doc dedup can't touch). Returns one row per input doc:
    (id_col, clean_text, n_lines, n_lines_kept); a doc whose every line is
    boilerplate survives with clean_text = ''.

    ``sep`` is a Java regex (F.split); the default splits on newlines.
    ``join_sep`` (default: ``sep``) is the LITERAL separator for
    reassembly — pass it whenever ``sep`` uses regex metacharacters.
    Line identity is the 60-bit md5 of the normalized line (lowercase,
    alnum tokens re-joined) — cross-engine reproducible, so the gate can
    hash-certify the cleaned text against a DuckDB replay.

    100 TB shape: two shuffles over narrow data — the line-frequency agg
    keys on the 8-byte line hash (partial-agg'd map-side; count_distinct of
    doc ids is two-phase), and the reassembly groupBy keys on the doc id.
    The frequent-line table itself is tiny under any Zipfian corpus (only
    hashes with df > max_doc_freq survive the HAVING), so the removal join
    is a BROADCAST anti-join — document bodies never shuffle by line hash.
    In-doc line order is restored by array_sort over (pos, line) structs,
    deterministic under any partitioning."""
    lines = _exploded_lines(df, id_col, text_col, sep)
    frequent = (
        _line_doc_freq(lines)
        .filter(F.col("line_df") > max_doc_freq)
        .select("__h")
    )
    return _remove_and_reassemble(
        df, lines, frequent, id_col, text_col, sep, join_sep
    )


def _exploded_lines(
    df: DataFrame, id_col: str, text_col: str, sep: str
) -> DataFrame:
    """(__id, __pos, __line, __h) — one row per line, hashed; checkpointed
    so scan+split+md5 runs once across the frequency and removal passes."""
    lines = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.col(text_col).cast("string"), sep)).alias(
            "__pos", "__line"
        ),
    ).withColumn("__h", md5_long_expr(normalized_text_expr(F.col("__line"))))
    return _ckpt_wide(lines)


def _line_doc_freq(lines: DataFrame) -> DataFrame:
    """(__h, line_df): per-line-hash distinct document count."""
    return lines.groupBy("__h").agg(F.count_distinct("__id").alias("line_df"))


def _remove_and_reassemble(
    df: DataFrame,
    lines: DataFrame,
    frequent: DataFrame,
    id_col: str,
    text_col: str,
    sep: str,
    join_sep: str | None,
    broadcast_frequent: bool = True,
) -> DataFrame:
    # single-corpus line_dedup's frequent set (df > cap within ONE corpus
    # pass) is Zipf-tiny and safely force-broadcast; the INCREMENTAL path's
    # merged state (every line ever shared across the whole corpus history)
    # is not bounded that way — there AQE decides (broadcast_frequent=False)
    freq_side = F.broadcast(frequent) if broadcast_frequent else frequent
    kept = lines.join(freq_side, "__h", "left_anti")
    reassembled = kept.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                lambda s: s["__line"],
            ),
            join_sep if join_sep is not None else sep,
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_lines_kept"),
    )
    base = df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col).cast("string"), sep)).alias("n_lines"),
    )
    return (
        base.join(reassembled, base[id_col] == reassembled["__id"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.col("n_lines"),
            F.coalesce(F.col("n_lines_kept"), F.lit(0)).cast("long").alias(
                "n_lines_kept"
            ),
        )
    )


def line_dedup_incremental(
    batch: DataFrame,
    line_counts: DataFrame | None,
    id_col: str,
    text_col: str,
    sep: str = "\n",
    max_doc_freq: int = 1,
    join_sep: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Append-mode ``line_dedup``: clean a new BATCH against the corpus's
    accumulated line-frequency state without re-reading any earlier batch.

    ``line_counts`` is the state table (__h, line_df) — the union-summed
    deltas of every prior batch (None/empty for a cold start). A line is
    boilerplate when its TOTAL document frequency (state + this batch)
    exceeds ``max_doc_freq``, so a banner that arrives one-doc-per-batch is
    still caught once its cumulative count crosses the threshold.

    Returns (cleaned_batch, counts_delta): ``cleaned_batch`` has the
    ``line_dedup`` output schema; ``counts_delta`` is this batch's
    (__h, line_df) to APPEND to the state table (consumers re-aggregate by
    sum — the append-mode state-table pattern of ``dedup_incremental`` /
    ``near_dup_incremental``, SCALING.md §append-mode). Cost scales with
    the batch: the state table is touched only by the frequency merge
    (aggregated state + batch delta), never re-derived from corpus text.
    """
    lines = _exploded_lines(batch, id_col, text_col, sep)
    delta = _line_doc_freq(lines)
    if line_counts is not None:
        merged = (
            line_counts.select("__h", "line_df")
            .unionByName(delta)
            .groupBy("__h")
            .agg(F.sum("line_df").alias("line_df"))
        )
    else:
        merged = delta
    frequent = merged.filter(F.col("line_df") > max_doc_freq).select("__h")
    cleaned = _remove_and_reassemble(
        batch, lines, frequent, id_col, text_col, sep, join_sep,
        broadcast_frequent=False,
    )
    return cleaned, delta


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup (exact, inverted-index join)
# ---------------------------------------------------------------------------


# ngram_jaccard_pairs takes the PPJoin prefix route at thresholds from here
# up, the full-postings inverted join below (see its docstring)
PREFIX_MIN_THRESHOLD = 0.3


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    ndigits: int = 6,
    log_dropped: bool = False,
) -> DataFrame:
    """All pairs (id_a < id_b) with Jaccard(shingleset_a, shingleset_b) >=
    threshold. Exact; the self-join is on the shingle key (inverted index),
    so cost is Σ df(shingle)² — cap with ``max_df`` at scale.

    Two routes, picked by ``threshold``: below ``PREFIX_MIN_THRESHOLD`` the
    full-postings inverted join below; from it up, PPJoin prefix filtering
    (Bayardo et al., WWW'07; Xiao et al., WWW'08), where prefixes prune
    meaningfully: each doc indexes only its |S| - ceil(t*|S|) + 1 RAREST
    shingles (global (df, hash) order) — two sets with Jaccard >= t must
    collide inside those prefixes, so candidate volume falls from Σ df² to
    Σ pdf² and the exact verify (array_intersect on per-doc hash arrays)
    runs on survivors only. Identical output, certified by a differential
    test. At sf10 (500k realistic docs) the t=0.06 inverted join measures
    ~570s while t=0.5 prefix measures seconds; LOW-threshold exact
    all-pairs is intrinsically Σ df²-bound, and the scale answer there is
    minhash_lsh_pairs or a higher threshold, not this operator.

    PRECONDITION: ``id_col`` is unique (one row per document) — the doc-id
    contract every dedup operator here shares. Rows that duplicate an id
    would double-count that id's shingles in both the intersection and the
    set size (pre-dedupe such inputs with ``dropDuplicates([id_col])``
    first).

    Shuffle diet: ``shingles_expr`` is per-doc distinct already
    (array_distinct), so the exploded (id, shingle) stream needs NO extra
    distinct — that was a full extra shuffle of the widest data in the
    pipeline. All joins/groupBys key on the 60-bit md5 of the shingle
    (8-byte long), not the multi-word string: same pairs (collision odds
    ~n²/2⁶⁰ per doc pair), ~3-4× narrower shuffles. The hashed stream is
    localCheckpoint'd once and feeds the df-cap, the size count and both
    self-join sides — without it the scan+shingle+md5 work runs 3×."""
    sh = widen(df).select(
        F.col(id_col).alias("id"), F.explode(shingles_expr(text_col, k)).alias("shingle")
    ).select("id", md5_long_expr("shingle").alias("h"))
    sh = _ckpt_wide(sh)  # scan+shingle+md5 runs ONCE, in parallel
    if max_df is not None:
        freq = _ckpt_wide(sh.groupBy("h").agg(F.count(F.lit(1)).alias("__df")))
        # no-silent-caps: the cap's drop volume is LOGGED, not implied — at
        # scale the dropped sum(df·(df−1)/2) is exactly the candidate-pair
        # mass the cap saves (the df-capped semantics themselves are
        # certified by the oracle gate, which mirrors max_df in SQL). One
        # tiny agg over the checkpointed freq frame; the same blocks feed
        # the keep-filter join below, so the groupBy still runs once.
        # OPT-IN (log_dropped=True): the diagnostic is an eager action —
        # running it at plan-CONSTRUCTION time would break laziness for
        # every library caller that builds the plan without executing it.
        # The bench diagnostic line passes log_dropped=True.
        if log_dropped:
            d = freq.filter(F.col("__df") > max_df).agg(
                F.count(F.lit(1)).alias("b"),
                F.sum(F.col("__df") * (F.col("__df") - 1) / 2).alias("p"),
            ).first()
            if d["b"]:
                import sys

                print(
                    f"# ngram_jaccard_pairs: max_df={max_df} dropped {d['b']} "
                    f"shingle buckets (~{int(d['p'])} candidate pairs avoided)",
                    file=sys.stderr, flush=True,
                )
        sh = sh.join(freq.filter(F.col("__df") <= max_df).select("h"), "h")
        sh = _ckpt_wide(sh)
    if threshold >= PREFIX_MIN_THRESHOLD:
        return _jaccard_pairs_prefix(sh, threshold, ndigits)
    # set sizes travel INLINE on the postings (one narrow join on id, ~|postings|
    # rows) so the Jaccard filter applies directly on the pair aggregation — at a
    # low threshold the aggregation output is the real volume (sf10 measured:
    # 315M join rows → 143M distinct pairs → 8.9k survivors), and the previous
    # shape re-processed all 143M pairs through TWO more joins against the size
    # table just to fetch |a| and |b| before throwing 99.99% of them away
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    szp = sh.join(sizes, "id")
    a = szp.alias("a")
    b = szp.alias("b")
    out = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count(F.lit(1)).alias("common"))
        .withColumn(
            "jaccard",
            F.round(
                F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")), ndigits
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def _jaccard_pairs_prefix(sh: DataFrame, threshold: float, ndigits: int) -> DataFrame:
    """PPJoin candidate generation + exact verify over the kept postings
    ``sh`` = (id, h). Prefix principle: order every doc's shingles by global
    rarity (df asc, hash asc — a total order both docs agree on); if
    J(a, b) >= t, then |a ∩ b| >= ceil(t/(1+t)·(|a|+|b|)) > |a| - p_a where
    p_a = |a| - ceil(t·|a|) + 1, so the intersection cannot live entirely
    outside both prefixes — prefix collision is guaranteed, candidates from
    prefix postings only are EXACT (no false negatives; pinned by a
    brute-force differential test).

    Plan shape (round-7 restructure — the first cut window-ranked the FULL
    posting stream and collect_list'd EVERY doc before any pruning, which
    went 26× superlinear at sf100):

     - df==1 postings can never collide, and because df==1 sorts before any
       df>=2 in the (df asc, h asc) rarity order, a doc's ``u1`` singleton
       shingles occupy exactly the FIRST u1 prefix slots. So the row_number
       window ranks ONLY the df>=2 stream (on a Zipf corpus the hapax mass
       is the bulk of the postings) with the cutoff shifted down by u1 —
       identical prefixes minus provably-collision-free members.
     - candidates carry set sizes inline and apply the PPJoin length filter
       |small| >= t·|large| (J >= t forces it) INSIDE the self-join, before
       the distinct.
     - candidates ALSO carry each prefix posting's position in the doc's
       full rarity order and apply the PPJoin POSITIONAL filter
       1 + min(|a|-pa, |b|-pb) >= ceil(t/(1+t)·(|a|+|b|)) inside the join:
       a collision too late in both prefixes cannot be a qualifying pair's
       first common shingle, so the row is pruned before the distinct
       (exactness argument inline below; pinned by the brute-force
       differential test).
     - the verify arrays are built only for docs that appear in a candidate
       pair (semi-join on the candidate id set) — at t>=0.3 that is a tiny
       fraction of the corpus, and collect_list over everything was the
       widest shuffle in the pipeline.

    Verify then joins candidate pairs to per-doc sorted hash ARRAYS and
    computes exact Jaccard with native array_intersect — JVM-side, no
    lambda, no Python.

    Every pruning bound runs at ``t = threshold - 0.5·10^-ndigits``, not at
    ``threshold``: the final filter keeps round(J, ndigits) >= threshold,
    which a J just under ``threshold`` can pass by rounding up, so pruning
    at the exact threshold would drop pairs the inverted route returns."""
    from pyspark.sql.window import Window

    t = threshold - 0.5 * 10.0**-ndigits

    # df attaches via a COUNT WINDOW over the shingle hash, not a groupBy +
    # self-join (round-13): the agg+join form exchanged the full posting
    # stream TWICE (once partially-aggregated into the freq table — shingle
    # hashes rarely repeat within a map partition, so partial agg collapses
    # almost nothing — and once into the join's SMJ sort); one h-keyed
    # window is a single exchange + one local sort producing the identical
    # (id, h, __df) rows. Rank ONLY the df>=2 postings (the hapax mass
    # never ranks or joins). The prefix cutoff needs u1 = |df==1 postings
    # per doc|, but u1 never has to be counted separately: with mc =
    # |df>=2 postings per doc| (a count window over the SAME partition the
    # rank uses — no extra shuffle, no stats join, no posting-stream
    # checkpoint), rn + u1 <= sz - ceil(t·sz) + 1 ⇔ rn <= mc - ceil(t·sz) + 1.
    multi = sh.select(
        "id", "h", F.count(F.lit(1)).over(Window.partitionBy("h")).alias("__df")
    ).filter(F.col("__df") >= 2)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    byid = Window.partitionBy("id")
    ranked = multi.select(
        "id",
        "h",
        F.row_number().over(byid.orderBy(F.asc("__df"), F.asc("h"))).alias("rn"),
        F.count(F.lit(1)).over(byid).alias("__mc"),
    )
    prefix = (
        ranked.join(sizes, "id")
        .filter(
            F.col("rn")
            <= F.col("__mc") - F.ceil(F.lit(t) * F.col("sz")) + 1
        )
        # pos = the posting's position in the doc's FULL rarity order
        # (df asc, h asc): the sz - __mc df==1 singletons all sort before
        # any df>=2 posting, so pos = rn + (sz - __mc). Feeds the PPJoin
        # positional filter below; computed here for free from columns the
        # prefix cutoff already carries.
        .select(
            "id", "h", "sz", (F.col("rn") + F.col("sz") - F.col("__mc")).alias("pos")
        )
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    # float slack for both pair bounds below, proportional to the operand so
    # rounding error cannot drop a boundary pair at any document size (false
    # positives are fine — verify is exact)
    slack = F.lit(1e-12) * (F.col("a.sz") + F.col("b.sz"))
    cand = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.id") < F.col("b.id"))
            # length filter: J >= t ⇒ min(|a|,|b|) >= t·max(|a|,|b|)
            & (
                F.least(F.col("a.sz"), F.col("b.sz"))
                >= F.lit(t) * F.greatest(F.col("a.sz"), F.col("b.sz")) - slack
            )
            # positional filter (PPJoin, Xiao et al. WWW'08): J >= t forces
            # overlap o >= α = ceil(t/(1+t)·(|a|+|b|)). Take the pair's FIRST
            # common shingle in the rarity order, at full positions (pa, pb):
            # every other common shingle sorts after it in BOTH docs' sorted
            # sets, so o <= 1 + min(|a|-pa, |b|-pb). A collision row failing
            # 1 + min(|a|-pa, |b|-pb) >= α therefore cannot be the first
            # common element of a qualifying pair — and the first common
            # element of every qualifying pair (always df>=2, always inside
            # both prefixes) passes it, so dropping failing rows before the
            # distinct loses no pair. The slack keeps float ceil from
            # overshooting the exact rational α (drop direction would be a
            # false negative).
            & (
                F.lit(1)
                + F.least(
                    F.col("a.sz") - F.col("a.pos"), F.col("b.sz") - F.col("b.pos")
                )
                >= F.ceil(
                    F.lit(t / (1.0 + t)) * (F.col("a.sz") + F.col("b.sz")) - slack
                )
            ),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    cand = track_checkpoint(cand.localCheckpoint(eager=False))  # feeds the id set AND the verify join
    cand_ids = (
        cand.select(F.col("id_a").alias("id"))
        .union(cand.select(F.col("id_b").alias("id")))
        .distinct()
    )
    docs = (
        sh.join(cand_ids, "id", "left_semi")
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("h")).alias("hs"))
    )
    return (
        cand.join(docs.select(F.col("id").alias("id_a"), F.col("hs").alias("hs_a")), "id_a")
        .join(docs.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_b")), "id_b")
        .withColumn("__common", F.size(F.array_intersect("hs_a", "hs_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("__common")
                / (F.size("hs_a") + F.size("hs_b") - F.col("__common")),
                ndigits,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------------


P31 = 2**31 - 1  # Mersenne prime modulus for the universal-hash family


def md5_long_expr(c: str | Column) -> Column:
    """Deterministic 60-bit integer from md5: both Spark (conv base-16) and
    DuckDB (CAST '0x…' AS BIGINT) can compute it IDENTICALLY, which is what
    lets the MinHash/SimHash pipelines be hash-gated against the DuckDB
    oracle (xxhash64 exists only in Spark). 15 hex chars < 2^60, so every
    downstream product of two mod-P31 residues stays < 2^62 — no long
    overflow anywhere (ANSI-safe)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("long")


def minhash_mix_constants(num_hashes: int, seed: int = 1_000_003) -> list[tuple[int, int]]:
    """(a_i, b_i) for h_i(x) = (a_i*x + b_i) mod P31, a_i != 0 — the classic
    universal family; deterministic so the DuckDB twin uses the SAME table."""
    import random

    rng = random.Random(seed)
    return [(rng.randrange(1, P31), rng.randrange(0, P31)) for _ in range(num_hashes)]


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    k: int = 5,
) -> DataFrame:
    """(id, sig array<long>) — sig[i] = min over shingles of
    (a_i * h0 + b_i) mod P31 with h0 = md5-derived residue: ONE string hash
    per shingle plus num_hashes modular multiply-adds (cheaper than
    num_hashes full string hashes, overflow-free, and reproducible in
    DuckDB — the oracle runs the identical pipeline). One explode + one
    groupBy(id) with num_hashes min-aggregates (all partial-agg'd map-side;
    the shuffle carries one row per doc)."""
    mix = minhash_mix_constants(num_hashes)
    sh = widen(df).select(
        F.col(id_col).alias("id"), F.explode(shingles_expr(text_col, k)).alias("shingle")
    ).select("id", (md5_long_expr("shingle") % P31).alias("h0"))
    aggs = [
        F.min((F.col("h0") * F.lit(a) + F.lit(b)) % P31).alias(f"h{i}")
        for i, (a, b) in enumerate(mix)
    ]
    sig = sh.groupBy("id").agg(*aggs)
    return sig.select("id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig"))


def _band_buckets(sig: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(id, band, bh) LSH buckets of an (id, sig) frame: ``bh`` is the Horner
    fold of the band's signature rows mod P31 — the same arithmetic the
    DuckDB twin runs (xxhash64 would be Spark-only)."""

    def band_hash(i: int) -> Column:
        bh: Column | None = None
        for j in range(rows_per_band):
            s = F.col("sig")[i * rows_per_band + j]
            bh = s if bh is None else (bh * F.lit(31337) + s) % F.lit(P31)
        return bh

    band_cols = F.array(
        *[F.struct(F.lit(i).alias("band"), band_hash(i).alias("bh")) for i in range(bands)]
    )
    return sig.select("id", F.explode(band_cols).alias("b")).select(
        "id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """LSH-banded candidate generation + exact-Jaccard verify.
    rows-per-band = num_hashes // bands; two docs are candidates if any band
    of their signatures collides. The bucket join is an equi-join on
    (band, band_hash) — no quadratic candidate explosion."""
    if bands < 1 or num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be a positive multiple of "
            f"bands ({bands}) — a non-divisible split would silently drop "
            "signature components (bands > num_hashes would crash)"
        )
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, num_hashes, k)

    buckets = _band_buckets(sig, bands, rows_per_band)
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # Exact-Jaccard verify on CANDIDATES ONLY: join each candidate pair to the
    # two docs' distinct-shingle arrays and intersect. Cost is O(|candidates|),
    # not O(all-pairs) — re-running the full inverted-index join here would
    # throw away the entire point of LSH. The expensive shingle arrays are
    # computed ONLY for docs that appear in some candidate pair (semi-join
    # BEFORE shingling — near-dup candidates are a tiny fraction of the
    # corpus, so this skips shingling ~everything twice more; AQE broadcasts
    # the id list at runtime when it is small); the checkpoint stops the
    # a/b joins re-deriving them.
    cand = track_checkpoint(cand.localCheckpoint(eager=False))
    cand_ids = (
        cand.select(F.explode(F.array("id_a", "id_b")).alias("id")).distinct()
    )
    sets = (
        widen(df).select(F.col(id_col).alias("id"), F.col(text_col).alias("__txt"))
        .join(cand_ids, "id", "left_semi")
        .select("id", shingles_expr("__txt", k).alias("shs"))
        .localCheckpoint(eager=False)
    )
    sets = track_checkpoint(sets)
    a = sets.select(F.col("id").alias("id_a"), F.col("shs").alias("shs_a"))
    b = sets.select(F.col("id").alias("id_b"), F.col("shs").alias("shs_b"))
    joined = cand.join(a, "id_a").join(b, "id_b")
    common = F.size(F.array_intersect(F.col("shs_a"), F.col("shs_b")))
    union = F.size(F.col("shs_a")) + F.size(F.col("shs_b")) - common
    return (
        joined.withColumn("jaccard", F.round(common / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# duplicate-cluster resolution (connected components over near-dup pairs)
# ---------------------------------------------------------------------------


# connected_components finishes on the driver when the undirected edge list
# (2 rows per pair) has at most this many rows; label propagation gives up
# (RuntimeError) after CC_MAX_ITERATIONS rounds without a fixpoint
DRIVER_MAX_EDGES = 50_000_000
CC_MAX_ITERATIONS = 25


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    initial_labels: DataFrame | None = None,
) -> DataFrame:
    """Connected components over an undirected edge list → (node, cluster_id)
    with cluster_id = min node id in the component.

    Min-label propagation with pointer jumping: each iteration (a) pulls the
    smallest neighbor label along edges (one shuffle on node id), then (b)
    shortcuts ``label ← label_of(label)`` (a second self-join), which squares
    the propagation distance per round — O(log diameter) iterations instead
    of O(diameter), the same convergence bound as the large-star/small-star
    family (Kiveris et al., "Connected Components in MapReduce and Beyond").
    Dedup components are shallow (dup groups), so this converges in a handful
    of rounds; ``localCheckpoint`` truncates lineage so the iterative plan
    never snowballs. Per-iteration cost: two equi-joins keyed on node id —
    no all-pairs stage anywhere.

    ``initial_labels`` (node, label) optionally seeds the propagation with
    labels already known to be component-minima candidates (e.g. exact-dup
    group minima) — the label must be a node id inside the same component;
    nodes not covered default to their own id. Cuts a round or two when
    large known groups would otherwise collapse via edge propagation.
    (Seeds are propagation hints only: the min-id-per-component result is
    identical with or without them, which is why the driver route below can
    ignore them.)

    Size-routed, like embedding_near_dup: a dedup graph is SPARSE relative
    to the corpus (edges exist only between near-dups), so even at 100 TB
    the edge list is usually orders of magnitude smaller than the data.
    The edges are sized and handed over by ``partitioning.collect_bounded``
    (one count, which also sizes the fallback's shuffle): when the
    undirected list (2 rows per pair) fits in ``DRIVER_MAX_EDGES`` rows,
    they go to a vectorized driver pass, which replaces O(log d) Spark
    rounds whose per-round scheduling dwarfs the tiny shuffles — the
    default cap (25M pairs ≈ 400 MB of int64 Arrow columns) was measured
    as the better route by an order of magnitude at 9M edges (sf100:
    104.5s distributed vs ~10s driver). When the bound is hit, distributed
    min-label propagation with pointer jumping handles graphs of any size.

    Exhausting ``CC_MAX_ITERATIONS`` before the label-sum fixpoint means some
    components may still carry split labels; that raises RuntimeError rather
    than silently returning unconverged clusters.
    """
    # checkpoint the SINGLE-direction edge list (the bounded collect's
    # count materializes it): the collect, the fallback and its reversal
    # branch then read the pair pipeline's output instead of recomputing it
    edges = pairs.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    edges = edges.localCheckpoint(eager=False)
    n_edges, pdf = collect_bounded(edges, DRIVER_MAX_EDGES // 2)
    if pdf is not None:
        node_type = edges.select("s").union(edges.select("d")).schema[0].dataType
        release_checkpoint(edges)  # the edges live on the driver now
        return _cc_driver_union_find(pdf, node_type)
    # size the iteration's shuffle to the edge count: tiny dup graphs
    # iterate in one partition instead of paying 32-task scheduling per
    # round; huge graphs keep full width
    und = edges.union(edges.select(F.col("d").alias("s"), F.col("s").alias("d")))
    npart = max(1, min(edges.rdd.getNumPartitions(), 2 * n_edges // 100_000 + 1))
    und = und.repartition(npart, "s").localCheckpoint(eager=True)
    release_checkpoint(edges)  # und is self-contained; edges superseded
    nodes = und.select(F.col("s").alias("node")).distinct()
    if initial_labels is None:
        labels = nodes.withColumn("label", F.col("node"))
    else:
        seeds = initial_labels.select(
            F.col(initial_labels.columns[0]).alias("node"),
            F.col(initial_labels.columns[1]).alias("__seed"),
        )
        labels = nodes.join(seeds, "node", "left").select(
            "node",
            F.least(F.col("node"), F.coalesce("__seed", "node")).alias("label"),
        )
    labels = labels.localCheckpoint(eager=True)
    prev_sum = None
    converged = False
    for _ in range(CC_MAX_ITERATIONS):
        nbr = (
            und.join(labels.withColumnRenamed("node", "s"), "s")
            .groupBy(F.col("d").alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = labels.join(nbr, "node", "left").select(
            "node",
            F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
        )
        # pointer jumping: follow the label's own label one hop
        hop = stepped.select(
            F.col("node").alias("label"), F.col("label").alias("label2")
        ).groupBy("label").agg(F.min("label2").alias("label2"))
        jumped = (
            stepped.join(hop, "label", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("label2", "label")).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        # labels only ever decrease, so an unchanged label-sum IS the
        # fixpoint — one small aggregate instead of a join + count per round
        s = jumped.agg(F.sum("label")).collect()[0][0]
        release_checkpoint(labels)  # superseded by the materialized jumped
        labels = jumped
        if s == prev_sum:
            converged = True
            break
        prev_sum = s
    release_checkpoint(und)  # the result depends only on the final labels
    if not converged:
        raise RuntimeError(
            f"connected_components did not reach the label fixpoint within "
            f"{CC_MAX_ITERATIONS} iterations — components may be split "
            f"(graph diameter exceeds 2^{CC_MAX_ITERATIONS})"
        )
    # the final labels checkpoint must outlive this call (the returned frame
    # reads it) — register it so a composed pipeline can free it once the
    # consuming stage has materialized
    track_checkpoint(labels)
    return labels.select("node", F.col("label").alias("cluster_id"))


def _cc_driver_union_find(pdf: pd.DataFrame, node_type: T.DataType) -> DataFrame:
    """Driver route for edge lists that fit in driver memory: min-id
    component labels, bit-identical to what the distributed fixpoint
    converges to. Input is the collected SINGLE-direction (s, d) edge list
    (the algorithm is undirected, so the reversal never needs to exist) and
    the id type of its endpoints; output matches the distributed path's
    (node, cluster_id) schema and node coverage (edge endpoints only).

    The edges are two pandas columns from an Arrow collect, not Row
    objects (~100 bytes of Python object per edge — 4 GB at 25M edges vs
    ~400 MB of int64 arrays). Numeric node ids take a fully vectorized
    min-label + pointer-jumping loop in index space: np.minimum.at
    scatters each endpoint's label to the other, then ``lab = lab[lab]``
    halves every propagation path; O(log diameter) rounds like the
    distributed route, ~seconds at 25M edges. Non-numeric ids (strings)
    take a dict-based path-compression loop."""
    schema = T.StructType(
        [T.StructField("node", node_type), T.StructField("cluster_id", node_type)]
    )
    spark = SparkSession.active()
    if len(pdf) == 0:
        return spark.createDataFrame([], schema)
    s_vals = pdf["s"].to_numpy()
    d_vals = pdf["d"].to_numpy()
    if np.issubdtype(s_vals.dtype, np.number) and np.issubdtype(
        d_vals.dtype, np.number
    ):
        # index space: nodes sorted ascending, so min index == min id
        nodes, inv = np.unique(np.concatenate([s_vals, d_vals]), return_inverse=True)
        si, di = inv[: len(s_vals)], inv[len(s_vals) :]
        lab = np.arange(len(nodes), dtype=np.int64)
        while True:
            new = lab.copy()
            np.minimum.at(new, di, lab[si])
            np.minimum.at(new, si, lab[di])
            new = new[new]  # pointer jump: label <- label of label
            if np.array_equal(new, lab):
                break
            lab = new
        out = pd.DataFrame({"node": nodes, "cluster_id": nodes[lab]})
        return spark.createDataFrame(out, schema)

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for s, d in zip(s_vals.tolist(), d_vals.tolist()):
        if s not in parent:
            parent[s] = s
        if d not in parent:
            parent[d] = d
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[rd] = rs
    comp_min: dict = {}
    for node in parent:
        r = find(node)
        m = comp_min.get(r)
        if m is None or node < m:
            comp_min[r] = node
    rows = [(n, comp_min[find(n)]) for n in parent]
    return spark.createDataFrame(rows, schema)


def dedup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 500,
    edge_source: str = "ngram",
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Full duplicate-cluster resolution: exact-dup edges (identical raw
    text) ∪ near-dup edges → connected components → (doc_id, cluster_id)
    for every doc that has at least one duplicate relation. cluster_id =
    min doc id of the cluster = the survivor a keep-one policy retains.
    Pair generation is the bucketed/inverted-index path (never all-pairs);
    clustering is the O(log d) label propagation above.

    ``edge_source`` picks the near-dup edge generator: "ngram" = exact
    n-gram Jaccard (inverted index / PPJoin prefix — EXACT pairs, but the
    low-threshold regime is Σdf²-bound and exceeds a single node's disk at
    sf100); "minhash" = banded MinHash-LSH candidates + exact-Jaccard
    verify (``num_hashes``/``bands``) — the SCALE route: candidate volume
    is bounded by band collisions, so clustering a 100× corpus stays
    linear-ish at the cost of LSH's bounded false-negative rate. Same
    output contract either way."""
    if edge_source not in ("ngram", "minhash"):
        raise ValueError(f"edge_source must be ngram|minhash, got {edge_source!r}")
    # exact-dup edges key on sha2(text), never the text body: the groupBy
    # and the star-edge join shuffle 64-char digests instead of whole
    # documents (at 100 TB the raw-text key ships the corpus twice)
    base = df.select(
        F.col(id_col).alias("id"), F.sha2(F.col(text_col).cast("string"), 256).alias("__t")
    )
    keep = base.groupBy("__t").agg(F.min("id").alias("id_a"))
    # star edges duplicate → group-min: one groupBy + one equi-join on the
    # digest key; no per-key list materialization (hot dup groups stay flat)
    exact = (
        base.join(keep, "__t")
        .filter(F.col("id_a") < F.col("id"))
        .select("id_a", F.col("id").alias("id_b"))
    )
    if edge_source == "minhash":
        near = minhash_lsh_pairs(
            df, id_col, text_col, num_hashes=num_hashes, bands=bands,
            k=k, threshold=threshold,
        ).select("id_a", "id_b")
    else:
        near = ngram_jaccard_pairs(
            df, id_col, text_col, k=k, threshold=threshold, max_df=max_df
        ).select("id_a", "id_b")
    # seed propagation with the exact-group min: every doc's exact group is
    # inside its component (star edges above), so large exact-dup groups
    # collapse at round 0 instead of via edge propagation
    seeds = base.join(keep, "__t").select(
        F.col("id").alias("node"), F.col("id_a").alias("label")
    )
    cc = connected_components(exact.union(near), initial_labels=seeds)
    return cc.select(F.col("node").alias(id_col), "cluster_id")


# ---------------------------------------------------------------------------
# incremental dedup (new batch vs an existing corpus)
# ---------------------------------------------------------------------------


def dedup_incremental(
    new_docs: DataFrame,
    seen_hashes: DataFrame,
    id_col: str,
    text_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Exact-dedup a NEW batch against an already-ingested corpus without
    touching the corpus itself — the streaming/append shape of production
    pipelines (daily crawl drops vs a petabyte archive).

    ``seen_hashes`` is the corpus's content-hash table: one column ``__key``
    (as produced by this function or ``content_hash_expr``). Returns
    (fresh_docs, updated_seen) where fresh_docs are the new rows that are
    duplicates of NEITHER the corpus NOR an earlier row of the same batch
    (within-batch survivor = min id), and updated_seen is seen_hashes ∪ the
    fresh batch's hashes — feed it to the next increment.

    Scale shape: one anti-join against the hash table (64-char digests,
    never document bodies — broadcastable while the table is small,
    shuffle-hash beyond) plus one within-batch groupBy. The corpus is never
    re-scanned; state grows one digest per unique document, the same state
    economics as dropDuplicatesWithinWatermark but durable across runs."""
    hashed = new_docs.withColumn("__key", content_hash_expr(text_col))
    vs_corpus = hashed.join(seen_hashes.select("__key"), "__key", "left_anti")
    survivors = vs_corpus.groupBy("__key").agg(F.min(id_col).alias(id_col))
    fresh = vs_corpus.join(survivors, [id_col, "__key"], "left_semi").drop("__key")
    new_seen = seen_hashes.select("__key").union(
        hashed.select("__key").distinct()
    ).distinct()
    return fresh, new_seen


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_fingerprints(df: DataFrame, id_col: str, text_col: str, bits: int = 60) -> DataFrame:
    """(id, simhash long): sign of the tf-weighted sum of each bit of each
    token's md5-derived 60-bit hash. md5-based (not xxhash64) and 60-bit
    (always non-negative, no wrapping) so the DuckDB oracle reproduces the
    fingerprint bit-for-bit and ANSI mode is safe.

    ONE doc-keyed shuffle: tf weighting needs no (id, token) pre-count —
    summing ±1 per token OCCURRENCE is identical to summing ±tf per
    distinct token (Σ_occurrences ±1 = Σ_tokens tf·±1), and the ``bits``
    conditional sums partial-aggregate map-side to one row per doc, so the
    distinct-token groupBy this replaces was pure overhead (a full extra
    shuffle of the token stream)."""
    tok = widen(df).select(
        F.col(id_col).alias("id"), F.explode(tokens_expr(text_col)).alias("token")
    ).select("id", md5_long_expr("token").alias("h"))
    one = F.lit(1).cast("long")
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, one).otherwise(-one)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    sums = tok.groupBy("id").agg(*aggs)
    fp = None
    for i in range(bits):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = bit * F.lit(2 ** i).cast("long")
        fp = term if fp is None else fp + term
    return sums.select("id", fp.alias("simhash"))


def select_cluster_survivors(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "quality_score",
) -> DataFrame:
    """Quality-aware keep-one policy over resolved duplicate clusters:
    instead of the min-id survivor ``dedup_clusters`` implies, keep the
    HIGHEST-SCORING member of each cluster (tie-break: min id — fully
    deterministic). ``clusters`` is (id, cluster_id) as produced by
    dedup_clusters / connected_components; ``scores`` is any (id, score)
    frame — quality_features' composite, a length prior, an LM fluency
    score.

    Output: (id, cluster_id, survivor_id, is_survivor) for every clustered
    doc. Plan: one id-keyed join + one window per cluster (bounded by
    cluster size — duplicate clusters are small by construction, the giant
    component IS the pathology dedup exists to remove)."""
    from pyspark.sql import Window

    j = clusters.join(scores.select(F.col(id_col), F.col(score_col)), id_col)
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    ranked = j.withColumn("__rk", F.row_number().over(w))
    surv = ranked.filter(F.col("__rk") == 1).select(
        "cluster_id", F.col(id_col).alias("survivor_id")
    )
    # no broadcast hint: the survivor frame has one row per CLUSTER —
    # usually small, but unbounded at corpus scale; AQE broadcasts it when
    # it actually is small
    return (
        ranked.drop("__rk", score_col)
        .join(surv, "cluster_id")
        .select(
            id_col,
            "cluster_id",
            "survivor_id",
            (F.col(id_col) == F.col("survivor_id")).alias("is_survivor"),
        )
    )


def minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 5,
) -> tuple[DataFrame, DataFrame]:
    """The persistable near-dup INDEX of a corpus, NORMALIZED into two
    frames: ``sigs`` = (id, sig) — ONE row per doc carrying the full
    MinHash signature — and ``buckets`` = (id, band, bh) — ``bands`` narrow
    rows per doc for the LSH equi-join. An incremental pipeline persists
    both once per ingested batch and appends; the raw corpus text is never
    needed again (signatures stand in for shingle sets at verify time).

    Returns (sigs, buckets). The first cut was one denormalized table with
    the 64-component signature duplicated onto every band row — 16× the
    payload, which at sf100 (4.5 M docs) spilled ~40 GB building the state
    and died out-of-disk (measured); at 100 TB the wide layout ships the
    signature mass ``bands`` times through every shuffle that touches the
    index. Candidates join on the narrow buckets; signatures join back by
    id only for the candidate pairs."""
    if bands < 1 or num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be a positive multiple of "
            f"bands ({bands}) — a non-divisible split would silently drop "
            "signature components (bands > num_hashes would crash)"
        )
    rows_per_band = num_hashes // bands
    # lazily checkpointed: buckets derive from sigs, and both frames are
    # consumed — without this the signature aggregation runs twice
    sigs = _ckpt_wide(minhash_signatures(df, id_col, text_col, num_hashes, k))

    return sigs, _band_buckets(sigs, bands, rows_per_band)


def _sig_agreement(a: Column, b: Column, num_hashes: int) -> Column:
    """MinHash Jaccard estimate: fraction of agreeing signature components
    (unbiased, stderr ~ 1/sqrt(num_hashes))."""
    return (
        F.aggregate(
            F.zip_with(a, b, lambda x, y: F.when(x == y, 1).otherwise(0)),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        / F.lit(float(num_hashes))
    )


def near_dup_incremental(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 5,
    threshold: float = 0.5,
    sigs: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Near-dup dedup of a NEW batch against an already-ingested corpus
    without re-reading the corpus — the append-mode twin of
    ``minhash_lsh_pairs`` (same role ``dedup_incremental`` plays for exact
    dups). ``index`` is a prior ``minhash_index`` buckets table
    (id, band, bh) with ``sigs`` its (id, sig) companion. A legacy
    denormalized index (sig carried on every band row) is also accepted —
    it is split in place and ``sigs`` may stay None.

    A batch doc is a dup if any LSH bucket collision (against the corpus
    index OR within the batch) verifies at >= threshold on the MinHash
    ESTIMATE (signature-component agreement — the corpus text is gone, so
    exact shingle verification is impossible by design; stderr ~
    1/sqrt(num_hashes), so size num_hashes to the precision the cut
    needs). Within the batch, the min-id member of a dup group survives.

    Returns (fresh_docs, batch_sigs, batch_buckets): append BOTH deltas
    (the FULL batch's — dups included, so future batches dedup against the
    canonical copy whichever batch it arrived in) to the corpus state.

    Scale: candidates come only from the NARROW bucket equi-join — the
    corpus index is touched by (band, bh) key, never scanned per batch
    doc; colliding pairs dedupe across bands BEFORE signatures join back
    by id, so the 64-component signature mass moves once per candidate
    pair, not once per band row (the denormalized layout shipped it
    ``bands`` times and died out-of-disk building sf100 state)."""
    if "sig" in index.columns:  # legacy denormalized layout
        if sigs is None:
            sigs = index.select("id", "sig").dropDuplicates(["id"])
        index = index.select("id", "band", "bh")
    if sigs is None:
        raise ValueError(
            "near_dup_incremental: a normalized buckets index needs its "
            "(id, sig) companion frame via sigs=..."
        )
    batch_sigs, batch_buckets = minhash_index(
        new_docs, id_col, text_col, num_hashes, bands, k
    )
    batch_buckets = track_checkpoint(batch_buckets.localCheckpoint(eager=False))

    cand_corpus = (
        batch_buckets.join(
            index.select(F.col("id").alias("__cid"), "band", "bh"), ["band", "bh"]
        )
        .select("id", "__cid")
        .distinct()
    )
    vs_corpus = (
        cand_corpus.join(batch_sigs, "id")
        .join(
            sigs.select(F.col("id").alias("__cid"), F.col("sig").alias("__sig_c")),
            "__cid",
        )
        .filter(_sig_agreement(F.col("sig"), F.col("__sig_c"), num_hashes) >= threshold)
        .select("id")
        .distinct()
    )
    a = batch_buckets.select("band", "bh", F.col("id").alias("id_a"))
    b = batch_buckets.select("band", "bh", F.col("id").alias("id_b"))
    cand_within = (
        a.join(b, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    within = (
        cand_within.join(
            batch_sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("__sig_a")),
            "id_a",
        )
        .join(
            batch_sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("__sig_b")),
            "id_b",
        )
        .filter(_sig_agreement(F.col("__sig_a"), F.col("__sig_b"), num_hashes) >= threshold)
        .select(F.col("id_b").alias("id"))
        .distinct()
    )
    dup_ids = vs_corpus.union(within).distinct()
    fresh = new_docs.join(
        dup_ids.withColumnRenamed("id", id_col), id_col, "left_anti"
    )
    return fresh, batch_sigs, batch_buckets


# ---------------------------------------------------------------------------
# exact-substring (duplicated-span) dedup
# ---------------------------------------------------------------------------


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_df: int = 2,
) -> DataFrame:
    """ExactSubstr-style span removal (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): every token covered by a
    k-token window whose normalized hash occurs in >= ``min_df`` distinct
    documents is removed from EVERY document — catches quoted passages and
    copied paragraphs that whole-doc and line dedup both miss. Text is
    canonicalized to single-space-joined tokens (the dedup family's
    normalization). Returns (id_col, clean_text, n_tokens, n_tokens_kept,
    n_dup_windows).

    Plan (suffix-array-free — the classic formulation needs a global
    suffix array; the window form is the same detection at fixed k and is
    join-shaped): stride-1 k-token windows explode per doc (≈ one row per
    token — the cost ceiling), keyed by 60-bit md5 of the window;
    frequency agg on the 8-byte hash (distinct-doc count, partial-agg'd);
    duplicated-window starts come back via an equi-join on the hash
    (AQE picks broadcast when the frequent set is small; a quoted-passage
    set is NOT guaranteed Zipf-tiny, so no broadcast is forced) and
    collapse to one sorted array per doc; coverage is then a pure
    array-expression filter — exists(starts, s <= i < s+k) per token index
    — inside whole-stage codegen, no UDF."""
    # tokenize ONCE: interpreted HOFs are not CSE'd across consumers, so
    # size(toks) alongside toks.alias() would re-run the tokenize pipeline
    base = (
        df.select(F.col(id_col).alias("__id"), tokens_expr(text_col).alias("__toks"))
        .transform(_ckpt_wide)  # feeds windows AND reassembly
        .withColumn("__n", F.size("__toks"))
    )

    win = base.filter(F.col("__n") >= k).select(
        "__id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.col("__n") - k + 1),
                lambda i: F.array_join(F.slice("__toks", i, k), " "),
            )
        ).alias("__p", "__w"),
    ).select(
        "__id", (F.col("__p") + 1).alias("__start"), md5_long_expr("__w").alias("__h")
    )
    win = _ckpt_wide(win)

    freq = win.groupBy("__h").agg(F.count_distinct("__id").alias("__df"))
    frequent = freq.filter(F.col("__df") >= min_df).select("__h")

    starts = (
        win.join(frequent, "__h")
        .groupBy("__id")
        .agg(F.array_sort(F.collect_set("__start")).alias("__starts"))
    )

    j = base.join(starts, "__id", "left").withColumn(
        "__starts", F.coalesce("__starts", F.array().cast("array<int>"))
    )
    # Coverage via MERGED intervals, not per-token exists: the naive
    # exists(__starts, s <= i < s+k) is O(n_tokens × n_dup_windows) per doc —
    # quadratic exactly where a Zipf corpus concentrates duplicated spans
    # (measured 18.5× superlinear at sf100). Stride-1 duplicate windows
    # overlap massively, so first fold the sorted starts into disjoint
    # [lo, hi) intervals, then reassemble the KEPT text directly from the
    # gaps between them with array slices — O(n_tokens + n_intervals), all
    # shift/zip_with/slice native exprs (no O(m²) aggregate-fold, which
    # copies the accumulator array per step).
    #
    # A start s covers tokens [s, s+k); two sorted starts s, s' merge iff
    # s' - s <= k (adjacent windows produce contiguous coverage). So an
    # interval OPENS at each start whose predecessor is > k behind, and
    # CLOSES at s+k for each start whose successor is > k ahead — computed
    # by zipping __starts with its shift-by-one in both directions.
    n_starts = F.size("__starts")
    prevs = F.concat(
        F.array(F.lit(-(10**9))),
        F.slice("__starts", 1, F.greatest(n_starts - 1, F.lit(0))),
    )
    nexts = F.concat(
        F.slice("__starts", 2, F.greatest(n_starts - 1, F.lit(0))),
        F.array(F.lit(2 * 10**9)),
    )
    los = F.transform(
        F.filter(
            F.zip_with(
                "__starts", prevs, lambda s, p: F.struct(s.alias("s"), (s - p > k).alias("f"))
            ),
            lambda x: x["f"],
        ),
        lambda x: x["s"],
    )
    his = F.transform(
        F.filter(
            F.zip_with(
                "__starts", nexts, lambda s, nx: F.struct((s + k).alias("s"), (nx - s > k).alias("f"))
            ),
            lambda x: x["f"],
        ),
        lambda x: x["s"],
    )
    # kept segments are the gaps: [1, lo_1) ∪ [hi_1, lo_2) ∪ … ∪ [hi_m, n+1)
    seg_los = F.concat(F.array(F.lit(1)), his)
    seg_his = F.concat(los, F.array(F.col("__n") + 1))  # exclusive
    gaps = F.filter(
        F.zip_with(seg_los, seg_his, lambda a, b: F.struct(a.alias("lo"), b.alias("hi"))),
        lambda g: g["hi"] > g["lo"],
    )
    kept = F.flatten(
        F.transform(gaps, lambda g: F.slice("__toks", g["lo"], g["hi"] - g["lo"]))
    )
    return j.select(
        F.col("__id").alias(id_col),
        F.array_join(kept, " ").alias("clean_text"),
        F.col("__n").cast("long").alias("n_tokens"),
        F.size(kept).cast("long").alias("n_tokens_kept"),
        F.size("__starts").cast("long").alias("n_dup_windows"),
    )


# ---------------------------------------------------------------------------
# edit-distance similarity join (entity resolution)
# ---------------------------------------------------------------------------


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_distance: int = 2,
    q: int = 2,
    lowercase: bool = True,
) -> DataFrame:
    """Fuzzy self-join for entity resolution: every pair (id_a < id_b) whose
    strings are within ``max_distance`` Levenshtein edits — EXACT, without
    the all-pairs O(n²) join. Returns (id_a, id_b, distance).

    Ed-Join-style prefix filtering (Xiao et al., VLDB 2008):

    1. Each string explodes to occurrence-tagged character q-grams
       (gram#ordinal — makes the gram MULTISET a distinct set, so shared-
       tagged-gram count equals multiset overlap). The ordinal is a pure
       array expression (count of equal grams among the preceding
       positions): O(len²) per string but zero shuffles — strings are
       short, shuffles are not. d edits destroy at most q·d grams, so
       strings within distance d share ≥ max(|a|,|b|)−q+1−q·d occurrences.
    2. Under ANY global total order on tagged grams, that overlap bound
       forces the first q·d+1 grams (rarest-first here: order by corpus
       document frequency, then hash) of BOTH strings to intersect — so the
       candidate join indexes only q·d+1 grams per string, and the hot
       ubiquitous grams (which sort LAST by rarity) never enter the join.
       An md5 collision can only merge two grams — candidates grow, never
       shrink, so exactness is preserved.
    3. Pairs where the LONGER string has < q·(d+1) characters have a vacuous
       overlap bound (prefix filtering proves nothing); those route through
       a short-string pool blocked on a canonical length key
       (k = max(len_a, len_b) − d — each qualifying pair matches exactly
       once), disjoint from the long route by construction.
    4. VERIFY: both routes' candidate id pairs union into ONE distinct +
       string join + exact ``levenshtein`` pass, after the
       |len_a − len_b| ≤ d length filter.

    Shuffles: gram-frequency agg, frequency join, per-string rank window,
    prefix self-join (≤ q·d+1 rows per string), one verify join pair — all
    bounded; no stage ever pairs beyond gram-colliding prefixes. The oracle
    gate certifies the output against a brute-force ground-truth join, so a
    false negative anywhere in the cascade breaks the hash.

    Byte-vs-char caveat: Spark's levenshtein counts CHARACTERS; engines
    that count bytes (e.g. DuckDB) differ on non-ASCII input. The operator
    itself is consistent either way; cross-engine certification assumes
    ASCII.

    PRECONDITION: ``id_col`` unique, one row per entity string."""
    from pyspark.sql import Window

    if max_distance < 0 or q < 1:
        raise ValueError("max_distance must be >= 0 and q >= 1")
    d = int(max_distance)
    s = F.col(text_col).cast("string")
    if lowercase:
        s = F.lower(s)
    # Empty strings stay in: they have a valid length key (0) and route
    # through the short-string pool — a pair ('', s) with len(s) <= d is a
    # real match (d deletions) and must be returned. Only NULLs drop.
    base = (
        df.select(F.col(id_col).alias("id"), s.alias("s"))
        .filter(F.col("s").isNotNull())
        .withColumn("len", F.length("s"))
        .localCheckpoint(eager=False)  # shared by both routes + verify joins
    )
    base = track_checkpoint(base)
    l_short = q * (d + 1) - 1  # longest length with a vacuous overlap bound

    # -- short route: pairs whose longer string is <= l_short ----------------
    skeys = base.filter(F.col("len") <= l_short).select(
        "id", "len",
        F.explode(
            F.sequence(F.col("len") - F.lit(d), F.col("len"))
        ).alias("bk"),
    )
    sa, sb = skeys.alias("sa"), skeys.alias("sb")
    short_cand = sa.join(
        sb,
        (F.col("sa.bk") == F.col("sb.bk"))
        & (F.col("sa.id") < F.col("sb.id"))
        # canonical key: exactly one (bk) matches per qualifying pair
        & (F.col("sa.bk") == F.greatest(F.col("sa.len"), F.col("sb.len")) - d),
    ).select(F.col("sa.id").alias("id_a"), F.col("sb.id").alias("id_b"))

    # -- long route: prefix-filtered candidates ------------------------------
    garr = F.transform(
        F.sequence(F.lit(1), F.col("len") - q + 1),
        lambda i: F.substring(F.col("s"), i, q),
    )
    # occurrence ordinal as a pure array expression — no (id, gram) shuffle
    tagged_arr = F.transform(
        garr,
        lambda g, i: F.concat(
            g, F.lit("#"),
            F.size(F.filter(F.slice(garr, 1, i + 1), lambda x: x == g)).cast("string"),
        ),
    )
    tagged = (
        base.filter(F.col("len") >= q)
        .select("id", "len", F.posexplode(tagged_arr).alias("pos", "tg"))
        .select("id", "len", "pos", md5_long_expr("tg").alias("h"))
        .transform(_ckpt_wide)  # feeds the df-agg AND the rank join
    )
    gdf = tagged.groupBy("h").agg(F.count(F.lit(1)).alias("__df"))
    w_rank = Window.partitionBy("id").orderBy("__df", "h", "pos")
    prefix = (
        tagged.join(gdf, "h")
        .withColumn("__rk", F.row_number().over(w_rank))
        .filter(F.col("__rk") <= q * d + 1)
        .select("id", "len", "h")
    )
    pa, pb = prefix.alias("pa"), prefix.alias("pb")
    long_cand = pa.join(
        pb,
        (F.col("pa.h") == F.col("pb.h"))
        & (F.col("pa.id") < F.col("pb.id"))
        & (F.greatest(F.col("pa.len"), F.col("pb.len")) > l_short)
        & (F.abs(F.col("pa.len") - F.col("pb.len")) <= d),
    ).select(F.col("pa.id").alias("id_a"), F.col("pb.id").alias("id_b"))

    # -- unified verify ------------------------------------------------------
    cand = short_cand.unionByName(long_cand).distinct()
    stra = base.select(F.col("id").alias("id_a"), F.col("s").alias("__sa"))
    strb = base.select(F.col("id").alias("id_b"), F.col("s").alias("__sb"))
    return (
        cand.join(stra, "id_a")
        .join(strb, "id_b")
        .select(
            "id_a", "id_b",
            F.levenshtein(F.col("__sa"), F.col("__sb")).alias("distance"),
        )
        .filter(F.col("distance") <= d)
    )
