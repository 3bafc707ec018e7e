"""Benchmark decontamination — flag/remove training documents that overlap
an evaluation set by shared token n-grams.

No reference counterpart (the reference is a single-table profiler); this is
part of the training-data-pipeline extension surface: before a corpus feeds
model training, documents containing verbatim chunks of a benchmark/eval set
must be identified (the standard n-gram-overlap decontamination used for
large-LM training corpora).

Scale shape (the whole point of the design):
 - The EVAL side is tiny by construction (benchmarks are thousands of docs;
   the corpus is billions). Its distinct gram-hash set is aggregated once
   and BROADCAST — the corpus-side join is map-side only, no shuffle of
   corpus grams by hash.
 - The corpus side is one projection (shingle + md5) and one groupBy(doc) —
   a single doc-keyed shuffle of counters, partial-agg'd map-side.
 - Gram keys are the 60-bit md5 residues shared with the dedup family
   (``md5_long_expr``): 8-byte join keys instead of multi-word strings, and
   DuckDB computes the identical hashes, which is what lets the gate
   hash-certify the full pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_processes_spark.ops.dedup import md5_long_expr, shingles_expr
from etl_processes_spark.partitioning import widen


def eval_gram_hashes(eval_df: DataFrame, text_col: str, k: int = 5) -> DataFrame:
    """Distinct 60-bit gram hashes of the evaluation set: one column ``h``.
    Aggregated once; callers broadcast it against the corpus."""
    return (
        eval_df.select(F.explode(shingles_expr(text_col, k)).alias("shingle"))
        .select(md5_long_expr("shingle").alias("h"))
        .distinct()
    )


def contamination_report(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    threshold: float = 0.5,
    ndigits: int = 6,
) -> DataFrame:
    """Per corpus document: (id, n_grams, n_contaminated, contamination_ratio,
    contaminated) where n_contaminated counts the doc's DISTINCT k-gram
    hashes that appear anywhere in the eval set (shingles_expr is per-doc
    distinct already). Docs shorter than k tokens degrade to their whole
    token string as one gram — same fallback as the dedup shinglers, so a
    short doc that IS an eval doc still flags.

    Plan: corpus grams (one shuffle to groupBy doc) left-semi'd against the
    BROADCAST eval hash set for the hit count; total gram counts ride the
    same exploded stream, so the text is shingled exactly once."""
    grams = widen(corpus).select(
        F.col(id_col).alias("id"), F.explode(shingles_expr(text_col, k)).alias("shingle")
    ).select("id", md5_long_expr("shingle").alias("h"))
    ev = eval_gram_hashes(eval_df, text_col, k).withColumn("__hit", F.lit(1))
    # broadcast the (small) eval set; left join + conditional count gives
    # totals and hits in ONE doc-keyed aggregation
    tagged = grams.join(F.broadcast(ev), "h", "left")
    agg = tagged.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_contaminated"),
    )
    ratio = F.round(F.col("n_contaminated") / F.col("n_grams"), ndigits)
    return agg.select(
        F.col("id").alias(id_col),
        "n_grams",
        "n_contaminated",
        ratio.alias("contamination_ratio"),
        (F.col("n_contaminated") / F.col("n_grams") >= threshold).alias("contaminated"),
    )


def decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """The filter form: corpus rows whose contamination_ratio is BELOW
    ``threshold`` (clean documents), original schema preserved. One
    broadcast join + one doc-keyed shuffle + one id equi-join back."""
    flagged = contamination_report(
        corpus, eval_df, id_col, text_col, k=k, threshold=threshold
    ).filter(F.col("contaminated")).select(id_col)
    return corpus.join(flagged, id_col, "left_anti")
