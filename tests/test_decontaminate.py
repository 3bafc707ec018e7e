"""Benchmark decontamination: n-gram overlap between a corpus and an eval
set — report semantics, filter semantics, and the broadcast-join shape."""

import pytest
from pyspark.sql import functions as F

from etl_processes_spark.ops.decontaminate import (
    contamination_report,
    decontaminate,
    eval_gram_hashes,
)


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),  # verbatim eval doc
            (1, "a completely original document about spark engines"),
            (2, "the quick brown fox sat still all day long here"),  # partial overlap
            (3, "xx"),  # short doc, not in eval
        ],
        ["doc_id", "text"],
    )


@pytest.fixture(scope="module")
def eval_df(spark):
    return spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")], ["doc_id", "text"]
    )


def test_contamination_report_values(corpus, eval_df):
    rows = {
        r["doc_id"]: r
        for r in contamination_report(corpus, eval_df, "doc_id", "text", k=3).collect()
    }
    # doc 0 is the eval doc verbatim: every 3-gram hits
    assert rows[0]["n_grams"] == 7
    assert rows[0]["n_contaminated"] == 7
    assert rows[0]["contamination_ratio"] == 1.0
    assert rows[0]["contaminated"] is True
    # doc 1 shares no 3-gram
    assert rows[1]["n_contaminated"] == 0
    assert rows[1]["contaminated"] is False
    # doc 2 shares exactly the 2 leading 3-grams ('the quick brown',
    # 'quick brown fox') out of its 8
    assert rows[2]["n_grams"] == 8
    assert rows[2]["n_contaminated"] == 2
    assert rows[2]["contaminated"] is False
    # short doc: single whole-string gram, no hit
    assert rows[3]["n_grams"] == 1
    assert rows[3]["n_contaminated"] == 0


def test_short_eval_doc_still_flags(spark):
    corpus = spark.createDataFrame([(0, "xx")], ["doc_id", "text"])
    ev = spark.createDataFrame([(9, "xx")], ["doc_id", "text"])
    row = contamination_report(corpus, ev, "doc_id", "text", k=3).collect()[0]
    assert row["contamination_ratio"] == 1.0 and row["contaminated"] is True


def test_decontaminate_filters_only_contaminated(corpus, eval_df):
    clean = decontaminate(corpus, eval_df, "doc_id", "text", k=3, threshold=0.5)
    assert sorted(r["doc_id"] for r in clean.collect()) == [1, 2, 3]
    # schema preserved
    assert clean.columns == corpus.columns


def test_eval_gram_hashes_distinct(spark, eval_df):
    ev = eval_gram_hashes(eval_df, "text", k=3)
    n = ev.count()
    assert n == 7  # 9 tokens -> 7 distinct 3-grams
    assert ev.distinct().count() == n


def test_broadcast_join_shape(corpus, eval_df):
    plan = contamination_report(corpus, eval_df, "doc_id", "text", k=3)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_threshold_boundary(corpus, eval_df):
    # ratio == threshold counts as contaminated (>=)
    rep = contamination_report(corpus, eval_df, "doc_id", "text", k=3, threshold=0.25)
    rows = {r["doc_id"]: r["contaminated"] for r in rep.collect()}
    assert rows[2] is True  # 2/8 = 0.25 >= 0.25
