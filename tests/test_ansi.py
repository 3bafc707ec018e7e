"""ANSI-mode robustness: Spark 4 enables spark.sql.ansi.enabled by default
and the correctness driver runs the gate queries in ITS OWN session — every
operator must produce identical results with ANSI on (no runtime errors
from strict casts/arithmetic, no silent semantic drift)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def ansi(spark):
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    yield spark
    spark.conf.set("spark.sql.ansi.enabled", prev)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_generators_match_under_ansi(ansi, spark):
    from etl_processes_spark.generate.generators import u_expr, z_expr

    def mk():
        return spark.range(500).select(
            F.round(u_expr(7, "a"), 9).alias("u"), F.round(z_expr(7, "b"), 9).alias("z")
        )

    with_ansi = _rows(mk())
    spark.conf.set("spark.sql.ansi.enabled", "false")
    without = _rows(mk())
    spark.conf.set("spark.sql.ansi.enabled", "true")
    assert with_ansi == without


def test_text_ops_run_under_ansi(ansi, spark):
    from etl_processes_spark.ops.dedup import ngram_jaccard_pairs, simhash_fingerprints
    from etl_processes_spark.ops.pack import chunk_documents, mixture_sample
    from etl_processes_spark.ops.textstats import quality_features, unigram_logprob_score

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the cat sat on the hat"),
         (3, ""), (4, None), (5, "unique words entirely here")],
        ["doc_id", "text"],
    )
    assert ngram_jaccard_pairs(docs, "doc_id", "text", k=2, threshold=0.1).count() >= 1
    assert simhash_fingerprints(docs, "doc_id", "text").count() == 3  # token-bearing docs
    assert quality_features(docs, "doc_id", "text").count() == 5
    assert unigram_logprob_score(docs, "doc_id", "text").count() == 5
    assert chunk_documents(docs, "doc_id", "text", 3, 2).count() >= 5
    assert mixture_sample(docs.withColumn("g", F.lit("x")), "g", {"x": 1.0}, "doc_id").count() == 5


def test_profile_generate_under_ansi(ansi, spark):
    from etl_processes_spark import generate, profile

    df = spark.createDataFrame(
        [(i, float(i) * 1.5, "A" if i % 2 else "B") for i in range(50)],
        ["k", "v", "c"],
    )
    profs = profile(df, sample_rows=50)
    assert generate(spark, profs, 20, seed=3).count() == 20


def test_pack_and_windows_under_ansi(ansi, spark):
    import datetime

    from etl_processes_spark.ops.pack import pack_documents
    from etl_processes_spark.streaming.windows import sessionize

    d = spark.createDataFrame([(i, 10 + i) for i in range(20)], ["doc_id", "n"])
    assert pack_documents(d, "doc_id", "n", budget=64).count() == 20
    ev = spark.createDataFrame(
        [(i, i % 3, datetime.datetime(2026, 1, 1, 0, i), "c", 1.0) for i in range(10)],
        ["event_id", "user_id", "ts", "event_type", "value"],
    )
    assert sessionize(ev, gap_minutes=30).count() == 3


def test_round4_ops_under_ansi(ansi, spark):
    from etl_processes_spark.ops.classify import score_with_classifier
    from etl_processes_spark.ops.dedup import line_dedup
    from etl_processes_spark.ops.pack import shuffle_deterministic

    docs = spark.createDataFrame(
        [(0, "shared line\nunique zero"), (1, "shared line\nunique one"),
         (2, ""), (3, None)],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in line_dedup(docs, "doc_id", "text").collect()}
    assert out[0]["clean_text"] == "unique zero"
    assert out[1]["clean_text"] == "unique one"
    # null/empty text rows survive (empty normalizes to the shared '' hash)
    assert 2 in out and 3 in out

    df = spark.range(50).withColumnRenamed("id", "k")
    ordered = [r["k"] for r in shuffle_deterministic(df, "k", seed=3).collect()]
    assert sorted(ordered) == list(range(50))

    emb = spark.createDataFrame([(0, [0.5, -0.5]), (1, [1.0, 1.0])], ["id", "v"])
    scored = score_with_classifier(emb, "v", [0.3, 0.7], 0.1).collect()
    assert all(0.0 <= r["clf_score"] <= 1.0 for r in scored)


def test_round4_ops_match_under_ansi(ansi, spark):
    # timeseries + heavy hitters + edit distance + tfidf: identical results
    # with ANSI on/off (strict casts/arithmetic must neither error nor drift)
    import datetime as dt

    from etl_processes_spark.ops.dedup import edit_distance_pairs
    from etl_processes_spark.ops.textstats import tfidf_top_terms, token_heavy_hitters
    from etl_processes_spark.ops.timeseries import (
        gap_fill,
        resample,
        rolling_stats,
    )

    ev = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, h, 13), float(h) + 0.25)
            for h in (0, 1, 4, 5, 9)
        ]
        + [(2, dt.datetime(2024, 1, 1, 2, 2), 7.5)],
        "user_id long, ts timestamp, value double",
    )
    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the cat sat on the hat"),
         (3, "entirely unrelated words"), (4, None)],
        ["doc_id", "text"],
    )
    names = spark.createDataFrame(
        [(1, "chocolate lace"), (2, "chocolate face"), (3, "ab"), (4, "ac")],
        "id long, s string",
    )

    def run_all():
        res = resample(ev, "user_id", "ts", "value", 3600)
        return (
            _rows(gap_fill(res, "user_id", method="linear")),
            _rows(rolling_stats(res, "user_id", "bucket", "value", window=3)),
            _rows(token_heavy_hitters(docs, "text", 0.1)),
            _rows(edit_distance_pairs(names, "id", "s", max_distance=1)),
            _rows(tfidf_top_terms(docs, "doc_id", "text", k=2)),
        )

    with_ansi = run_all()
    spark.conf.set("spark.sql.ansi.enabled", "false")
    without = run_all()
    spark.conf.set("spark.sql.ansi.enabled", "true")
    assert with_ansi == without
    assert len(with_ansi[0]) >= 10  # gap rows generated
    assert len(with_ansi[3]) == 2   # (1,2) long route, (3,4) short route


def test_audit_cdc_ops_match_under_ansi(ansi, spark):
    import datetime as dt

    from etl_processes_spark.ops.audit import (
        accepted_values_violations,
        fk_violations,
        mahalanobis_outliers,
        pk_violations,
    )
    from etl_processes_spark.ops.asof import asof_join
    from etl_processes_spark.ops.cdc import latest_snapshot, scd2_intervals

    child = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 9), (13, None)], "id long, ref long"
    )
    parent = spark.createDataFrame([(1,), (2,)], "pid long")
    num = spark.createDataFrame(
        [(i, float(i % 7) + 0.5, float((i * 3) % 5)) for i in range(50)],
        "id long, a double, b double",
    )
    ch = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), "v1"), (1, dt.datetime(2024, 1, 3), "v2")],
        "k long, ts timestamp, val string",
    )
    facts = spark.createDataFrame(
        [(1, 1, dt.datetime(2024, 1, 2))], "fid long, k long, ts timestamp"
    )

    def run_all():
        return (
            _rows(pk_violations(child, ["ref"])),
            _rows(fk_violations(child, parent, {"ref": "pid"})),
            _rows(accepted_values_violations(child, "ref", [1, 2, 9])),
            _rows(mahalanobis_outliers(num, ["a", "b"]).select("id", "maha_sq")),
            _rows(latest_snapshot(ch, "k", "ts")),
            _rows(scd2_intervals(ch, "k", "ts").select("val", "valid_from_us", "valid_to_us")),
            _rows(asof_join(facts, ch, "k", suffix="_dim").select("fid", "val_dim")),
        )

    with_ansi = run_all()
    spark.conf.set("spark.sql.ansi.enabled", "false")
    without = run_all()
    spark.conf.set("spark.sql.ansi.enabled", "true")
    assert with_ansi == without
    assert with_ansi[6] == [(1, "v1")]  # fact at day 2 sees the day-1 version
