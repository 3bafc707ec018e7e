"""Edge probes (empty/all-null/single-row) + hypothesis property tests that
fuzz the decision tree and n-gram Jaccard against pure-Python oracles."""

import re

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_processes_spark.profile import column_stats, infer_types, profile
from etl_processes_spark.generate import generate


def test_empty_frame_columns_are_unknown(spark):
    df = spark.createDataFrame([], "a string, b double")
    assert infer_types(df) == {"a": "unknown", "b": "unknown"}


def test_all_null_column_is_unknown(spark):
    df = spark.createDataFrame([(None,), (None,)], "a string")
    assert infer_types(df)["a"] == "unknown"


def test_single_row_numeric_profile_and_constant_generation(spark):
    df = spark.createDataFrame([(7.5,)], "x double")
    prof = column_stats(df, {"x": "float"})["x"]
    assert prof["std"] == 0.0 and prof["skew"] == 0.0 and prof["kurtosis"] == 0.0
    assert prof["mean"] == prof["median"] == prof["min"] == prof["max"] == 7.5
    profs = profile(df)
    vals = [r["x"] for r in generate(spark, profs, 20, seed=5).collect()]
    assert vals == [7.5] * 20  # std=0 + clip to [min,max] => constant


# ---------------------------------------------------------------------------
# hypothesis: decision tree vs a pure-python port of the reference tree
# ---------------------------------------------------------------------------

BOOL_VOCAB = {"true", "false", "1", "0", "yes", "no", "y", "n", "t", "f"}
_DATE_FMTS = (
    re.compile(r"^\d{4}-\d{2}-\d{2}$"),
    re.compile(r"^\d{2}/\d{2}/\d{4}$"),
    re.compile(r"^\d{2}-\d{2}-\d{4}$"),
)


def _py_decide(values):
    """Reference tree (Latanova_v1.py:124-170) over trimmed strings, same
    thresholds/order as profile.infer.decide_type for StringType columns.
    Input strings are restricted by the strategies below to forms where
    python float()/date parsing agrees with Spark try_cast/try_to_timestamp."""
    vals = [v.strip() for v in values if v is not None]
    if not vals:
        return "unknown"
    lowers = {v.lower() for v in vals}
    if len(lowers) <= 3 and lowers <= BOOL_VOCAB:
        return "boolean"
    def email(v):
        return "@" in v and "." in v.split("@")[-1]
    def phone(v):
        return 7 <= len(re.sub(r"\D", "", v)) <= 15
    def num(v):
        try:
            float(v)
            return True
        except ValueError:
            return False
    if sum(map(email, vals)) / len(vals) > 0.7:
        return "email"
    if sum(map(phone, vals)) / len(vals) > 0.7:
        return "phone"
    nums = [float(v) for v in vals if num(v)]
    if len(nums) / len(vals) >= 0.9:
        ints = sum(1 for x in nums if float(x).is_integer())
        return "integer" if ints / len(nums) >= 0.95 else "float"
    # Spark's try_to_timestamp (like pandas to_datetime) also parses bare
    # 4-6 digit strings as years — hypothesis found this divergence
    is_date = lambda v: bool(
        any(p.match(v) for p in _DATE_FMTS) or re.fullmatch(r"\d{4,6}", v)
    )
    if sum(map(is_date, vals)) / len(vals) >= 0.8:
        return "datetime"
    distinct = len(set(vals))
    if distinct / len(vals) <= 0.3 and distinct < 50:
        return "categorical"
    return "text"


_WORD = st.from_regex(r"[a-z]{2,8}", fullmatch=True)
_VALUE = st.one_of(
    st.sampled_from(["true", "false", "yes", "no", "1", "0"]),
    st.integers(-10**6, 10**6).map(str),
    st.floats(-1e6, 1e6, allow_nan=False).map(lambda x: f"{x:.2f}"),
    st.tuples(_WORD, _WORD).map(lambda t: f"{t[0]}@{t[1]}.com"),
    st.integers(10**7, 10**10).map(lambda n: f"+{n}"),
    st.dates().map(lambda d: d.strftime("%Y-%m-%d")),
    st.lists(_WORD, min_size=1, max_size=5).map(" ".join),
)


@settings(max_examples=25, deadline=None, derandomize=True)
@given(st.lists(_VALUE, min_size=1, max_size=25), st.integers(0, 6))
def test_decide_type_matches_python_reference_tree(spark, values, homogenize):
    # bias half the examples toward one value family so every branch fires
    if homogenize < 3 and len(values) > 2:
        values = [values[0]] * (len(values) - 1) + values[1:2]
    df = spark.createDataFrame([(v,) for v in values], "c string")
    assert infer_types(df)["c"] == _py_decide(values), values


# ---------------------------------------------------------------------------
# hypothesis: n-gram Jaccard vs python sets
# ---------------------------------------------------------------------------


def _py_jaccard_pairs(rows, k=3, threshold=0.2):
    def sset(text):
        toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
        if len(toks) < k:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}

    sets = {i: sset(t) for i, t in rows}
    out = {}
    for a in sets:
        for b in sets:
            if a < b:
                inter = len(sets[a] & sets[b])
                union = len(sets[a] | sets[b])
                j = round(inter / union, 6) if union else 0.0
                if j >= threshold:
                    out[(a, b)] = j
    return out


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    st.lists(
        st.lists(st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]),
                 min_size=1, max_size=8).map(" ".join),
        min_size=2,
        max_size=8,
    )
)
def test_ngram_jaccard_matches_python_sets(spark, texts):
    from etl_processes_spark.ops.dedup import ngram_jaccard_pairs

    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, "doc_id", "text", k=3, threshold=0.2).collect()
    }
    assert got == _py_jaccard_pairs(rows), texts


def test_range_join_inverted_band_is_empty_not_explosive(spark):
    """A band with hi < lo is an empty interval: zero matches, and the
    bucket sequence must NOT run descending past the width guard."""
    from pyspark.sql import functions as F

    from etl_processes_spark.ops.rangejoin import range_join_bucketized

    points = spark.range(10).select(F.col("id").cast("double").alias("v"))
    bands = spark.createDataFrame(
        [(0, 2_000_000.0, 0.0), (1, 2.0, 6.0)], ["band_id", "lo", "hi"]
    )
    out = range_join_bucketized(points, bands, "v", granularity=1.0).collect()
    got = {(r["v"], r["band_id"]) for r in out}
    assert got == {(2.0, 1), (3.0, 1), (4.0, 1), (5.0, 1)}  # inverted band: nothing


def test_interval_overlap_join(spark):
    import pytest
    from pyspark.sql import functions as F

    from etl_processes_spark.ops.rangejoin import interval_overlap_join

    left = spark.createDataFrame(
        [(1, 0.0, 10.0), (2, 5.0, 6.0), (3, 20.0, 30.0), (4, 30.0, 30.0)],
        ["lid", "lo", "hi"],
    )
    right = spark.createDataFrame(
        [(10, 9.0, 21.0), (11, 5.5, 5.6), (12, 100.0, 90.0)],
        ["rid", "lo_r", "hi_r"],
    )
    got = sorted(
        (r["lid"], r["rid"])
        for r in interval_overlap_join(
            left, right, "lo", "hi", "lo_r", "hi_r", granularity=2.0
        ).collect()
    )
    # 1x10 overlap [9,10); 1x11 and 2x11 around [5.5,5.6); 3x10 [20,21);
    # 4 is empty; 12 is inverted — both drop out
    assert got == [(1, 10), (1, 11), (2, 11), (3, 10)]

    # canonical-bucket dedupe: a pair sharing MANY buckets appears once
    wide_l = spark.createDataFrame([(1, 0.0, 100.0)], ["lid", "lo", "hi"])
    wide_r = spark.createDataFrame([(2, 1.0, 99.0)], ["rid", "lo_r", "hi_r"])
    out = interval_overlap_join(
        wide_l, wide_r, "lo", "hi", "lo_r", "hi_r", granularity=1.0
    ).collect()
    assert len(out) == 1

    with pytest.raises(ValueError, match="granularity"):
        interval_overlap_join(left, right, "lo", "hi", "lo_r", "hi_r", granularity=0)


def test_round4_ops_degenerate_inputs(spark):
    """Empty/singleton/degenerate frames must not error in the round-4 ops."""
    from etl_processes_spark.ops.dedup import line_dedup, remove_duplicate_spans
    from etl_processes_spark.ops.pack import shuffle_deterministic
    from etl_processes_spark.ops.similarity import semantic_dedup
    from pyspark.sql import types as T

    empty = spark.createDataFrame(
        [], T.StructType([T.StructField("doc_id", T.LongType()),
                          T.StructField("text", T.StringType())])
    )
    assert line_dedup(empty, "doc_id", "text").count() == 0
    assert remove_duplicate_spans(empty, "doc_id", "text").count() == 0
    assert shuffle_deterministic(empty.select("doc_id"), "doc_id").count() == 0

    one = spark.createDataFrame([(1, "just one doc")], ["doc_id", "text"])
    r = line_dedup(one, "doc_id", "text").first()
    assert r["clean_text"] == "just one doc"
    r2 = remove_duplicate_spans(one, "doc_id", "text", k=2).first()
    assert r2["clean_text"] == "just one doc"

    # single vector: no pairs, must keep itself
    sv = spark.createDataFrame([(7, [1.0, 0.0])], ["vec_id", "embedding"])
    out = semantic_dedup(sv, "vec_id", "embedding", n_centroids=4).collect()
    assert len(out) == 1 and out[0]["keep"]


def test_semantic_dedup_empty_corpus(spark):
    from pyspark.sql import types as T

    from etl_processes_spark.ops.similarity import semantic_dedup

    empty = spark.createDataFrame(
        [], T.StructType([T.StructField("vec_id", T.LongType()),
                          T.StructField("embedding", T.ArrayType(T.DoubleType()))])
    )
    out = semantic_dedup(empty, "vec_id", "embedding")
    assert out.count() == 0
    assert set(out.columns) == {"vec_id", "cluster_id", "keep"}
