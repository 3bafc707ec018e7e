"""Salted-join equivalence, large-domain categorical generation, sane-order
inference mode."""

import pytest
from pyspark.sql import functions as F

from etl_processes_spark.generate.generators import gen_categorical_join
from etl_processes_spark.ops.skew import salted_join
from etl_processes_spark.profile import infer_types


def test_salted_join_equals_plain_join(spark):
    big = spark.range(2000).select(
        (F.col("id") % 5).alias("k"), F.col("id").alias("v")
    )
    small = spark.createDataFrame([(i, f"dim{i}") for i in range(5)], ["k", "name"])
    plain = big.join(small, "k").select("k", "v", "name")
    salted = salted_join(big, small, "k", salt_buckets=8).select("k", "v", "name")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_gen_categorical_join_large_domain(spark):
    cats = [f"cat_{i:03d}" for i in range(300)]
    probs = [1.0 / 300] * 300
    stats = {"categories": cats, "probabilities": probs}
    frame = spark.range(3000)
    out = gen_categorical_join(spark, frame, "c", stats, seed=3)
    vals = out.select("c").toPandas().c
    assert vals.notna().all()
    assert set(vals) <= set(cats)
    assert vals.nunique() > 200  # most of the domain hit at n=3000


def test_sane_inference_order(spark):
    # date strings: the reference order probes phone before datetime, so
    # they type as phone, as in the reference fixture
    df = spark.createDataFrame([("2020-01-15",), ("2021-03-04",)] * 10, ["d"])
    assert infer_types(df)["d"] == "phone"


def test_range_join_bucketized_matches_naive(spark):
    from etl_processes_spark.ops.rangejoin import range_join_bucketized

    pts = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([0.0, 49.9, 50.0, 99.9, 100.0, 125.0, 250.0])],
        ["pid", "v"],
    )
    # overlapping bands: [0,100), [50,150), [200,220)
    bands = spark.createDataFrame(
        [(0, 0.0, 100.0), (1, 50.0, 150.0), (2, 200.0, 220.0)], ["band_id", "lo", "hi"]
    )
    got = {
        (r["pid"], r["band_id"])
        for r in range_join_bucketized(pts, bands, "v", granularity=64.0).collect()
    }
    naive = {
        (p["pid"], b["band_id"])
        for p in pts.collect()
        for b in bands.collect()
        if b["lo"] <= p["v"] < b["hi"]
    }
    assert got == naive
    assert (2, 1) in got and (4, 0) not in got  # boundary: hi is exclusive

    # plan shape: hash equi-join on the bucket, not a nested-loop join
    plan = (
        range_join_bucketized(pts, bands, "v", granularity=64.0)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "NestedLoop" not in plan


def test_range_join_bucketized_guards(spark):
    import pytest
    from py4j.protocol import Py4JJavaError
    from etl_processes_spark.ops.rangejoin import range_join_bucketized

    pts = spark.createDataFrame([(0, 10.0)], ["pid", "v"])
    bands = spark.createDataFrame([(0, 0.0, 100.0)], ["band_id", "lo", "hi"])
    with pytest.raises(ValueError, match="granularity"):
        range_join_bucketized(pts, bands, "v", granularity=0.0)
    with pytest.raises(ValueError, match="granularity"):
        range_join_bucketized(pts, bands, "v", granularity=-1.0)
    # a band wider than the bucket cap fails loudly instead of exploding
    with pytest.raises(Exception, match="buckets") as exc:
        range_join_bucketized(
            pts, bands, "v", granularity=1.0, max_buckets_per_band=10
        ).collect()
    assert isinstance(exc.value, Py4JJavaError) or "buckets" in str(exc.value)


def test_salted_join_hot_detection_and_paths(spark):
    # one monster key (90% of rows) + a uniform tail: auto-detection must
    # find exactly the monster, and every path (auto / explicit hot set /
    # legacy "all" / no-hot plain) must equal the plain join
    big = spark.range(10_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 50).alias("k"),
        F.col("id").alias("v"),
    )
    small = spark.createDataFrame([(i, f"dim{i}") for i in range(50)], ["k", "name"])
    plain = sorted(map(tuple, big.join(small, "k").select("k", "v", "name").collect()))
    from etl_processes_spark.ops.skew import _detect_hot_keys

    hot = _detect_hot_keys(big, "k", hot_threshold=1000, max_hot_keys=10)
    assert hot == [7]
    for kw in (
        dict(hot_keys="auto", hot_threshold=1000),
        dict(hot_keys=[7]),
        dict(hot_keys=[7, 11, 99999]),  # extra/absent hot keys are inert
        dict(hot_keys="all"),
        dict(hot_keys=None),
    ):
        got = salted_join(big, small, "k", salt_buckets=8, **kw)
        assert sorted(map(tuple, got.select("k", "v", "name").collect())) == plain


def test_salted_join_left_keeps_unmatched_and_null_keys(spark):
    big = spark.createDataFrame(
        [(7, "hot1"), (7, "hot2"), (3, "cold"), (99, "nomatch"), (None, "nullk")],
        ["k", "v"],
    )
    small = spark.createDataFrame([(7, "x"), (3, "y")], ["k", "w"])
    plain = sorted(
        map(tuple, big.join(small, "k", "left").select("k", "v", "w").collect()),
        key=str,
    )
    got = salted_join(big, small, "k", salt_buckets=4, how="left", hot_keys=[7])
    assert sorted(map(tuple, got.select("k", "v", "w").collect()), key=str) == plain


def test_salted_join_rejects_outer_joins(spark):
    import pytest
    from etl_processes_spark.ops.skew import salted_join

    big = spark.createDataFrame([(1, "a")], ["k", "v"])
    small = spark.createDataFrame([(1, "x"), (2, "y")], ["k", "w"])
    for how in ("right", "full", "full_outer", "right_outer"):
        with pytest.raises(ValueError, match="salted_join"):
            salted_join(big, small, "k", salt_buckets=4, how=how)


def test_salt_spreads_fully_duplicated_hot_rows(spark):
    # the hot-key pathology: rows identical in EVERY column — a content
    # hash would send them all to one bucket; the position salt must not
    from pyspark.sql import functions as F

    from etl_processes_spark.ops.skew import _row_salt

    df = spark.createDataFrame([("hot",)] * 2000, ["k"]).repartition(4)
    n = df.withColumn("__salt", _row_salt(16)).select("__salt").distinct().count()
    assert n >= 8  # duplicates land in many buckets, not one


# ---------------------------------------------------------------------------
# bloom-filter join reduction
# ---------------------------------------------------------------------------


def test_bloom_join_equals_plain_join(spark):
    from etl_processes_spark.ops.skew import bloom_join

    big = spark.createDataFrame(
        [(i % 100, f"v{i}") for i in range(2000)], ["k", "v"]
    )
    small = spark.createDataFrame([(i, f"w{i}") for i in range(0, 100, 7)], ["k", "w"])
    plain = sorted(map(tuple, big.join(small, "k").collect()))
    bloom = sorted(map(tuple, bloom_join(big, small, "k", expected_items=100).collect()))
    assert bloom == plain


def test_bloom_semi_filter_no_false_negatives_and_reduces(spark):
    from etl_processes_spark.ops.skew import bloom_semi_filter

    big = spark.createDataFrame([(i,) for i in range(5000)], ["k"])
    keys = spark.createDataFrame([(i,) for i in range(0, 5000, 50)], ["k"])  # 100 keys
    kept = {r["k"] for r in bloom_semi_filter(big, keys, "k", expected_items=100).collect()}
    wanted = set(range(0, 5000, 50))
    assert wanted <= kept  # every true match survives
    assert len(kept) < 1000  # and the filter actually filters (fpp ~3%)


def test_bloom_join_string_keys(spark):
    from etl_processes_spark.ops.skew import bloom_join

    big = spark.createDataFrame([(f"key{i % 20}", i) for i in range(400)], ["k", "v"])
    small = spark.createDataFrame([("key3", "x"), ("key7", "y")], ["k", "w"])
    plain = sorted(map(tuple, big.join(small, "k").collect()))
    bloom = sorted(map(tuple, bloom_join(big, small, "k", expected_items=10).collect()))
    assert bloom == plain


def test_bloom_join_empty_keys_and_rejected_joins(spark):
    import pytest
    from etl_processes_spark.ops.skew import bloom_join

    big = spark.createDataFrame([(1, "a")], ["k", "v"])
    small = spark.createDataFrame([(2, "x")], ["k", "w"]).filter("k < 0")
    assert bloom_join(big, small, "k").count() == 0
    for how in ("left", "right", "full", "left_outer"):
        with pytest.raises(ValueError, match="bloom_join"):
            bloom_join(big, small, "k", how=how)


def test_bloom_semi_filter_null_keys_dropped(spark):
    # a NULL key matches nothing in an equi-join; the probe must not pass it
    from etl_processes_spark.ops.skew import bloom_semi_filter

    big = spark.createDataFrame([(None,), (1,), (2,)], "k int")
    keys = spark.createDataFrame([(1,)], ["k"])
    kept = [r["k"] for r in bloom_semi_filter(big, keys, "k", expected_items=10).collect()]
    assert None not in kept and 1 in kept


def test_bloom_tree_merge_matches_driver_merge(spark, monkeypatch):
    # tree merge (executor-side chunked OR-reduce; driver assembles exactly
    # one bitmap) must be bit-equivalent to the driver merge — same filter
    # decisions on a multi-partition, multi-chunk (bitmap > 1 MB) build;
    # the size cap alone picks the route
    from etl_processes_spark.ops import skew

    big = spark.range(0, 5000).withColumnRenamed("id", "k")
    keys = spark.range(0, 5000, 7, numPartitions=13).withColumnRenamed("id", "k")
    kw = dict(expected_items=2_000_000, fpp=0.03)  # ~1.8 MB bitmap -> 2 chunks
    drv = {r["k"] for r in skew.bloom_semi_filter(big, keys, "k", **kw).collect()}
    monkeypatch.setattr(skew, "_BLOOM_DRIVER_MERGE_MAX", 0)
    tree = {r["k"] for r in skew.bloom_semi_filter(big, keys, "k", **kw).collect()}
    assert tree == drv
    assert set(range(0, 5000, 7)) <= tree  # no false negatives

    # empty key set short-circuits on the tree route too
    none = skew.bloom_semi_filter(big, keys.filter("k < 0"), "k", **kw)
    assert none.count() == 0
