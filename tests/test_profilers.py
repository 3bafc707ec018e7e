"""Parity tests pinning the SURVEY.md §2.11 semantic decisions: Spark
aggregates must reproduce the reference's numpy/scipy formulas exactly."""

import numpy as np
import pytest

from etl_processes_spark.profile import column_stats, detect_date_format


@pytest.fixture(scope="module")
def num_df(spark):
    rng = np.random.RandomState(7)
    vals = np.round(rng.lognormal(3, 1, size=500), 3).tolist()
    return spark.createDataFrame([(float(v),) for v in vals], ["x"]), np.array(vals)


def test_numeric_profile_matches_numpy_scipy(num_df):
    df, vals = num_df
    prof = column_stats(df, {"x": "float"})["x"]
    # np.std ddof=0 (Latanova_v1.py:181) == stddev_pop
    assert prof["mean"] == pytest.approx(np.mean(vals), rel=1e-12)
    assert prof["std"] == pytest.approx(np.std(vals), rel=1e-12)
    assert prof["median"] == pytest.approx(np.median(vals), rel=1e-12)
    assert prof["min"] == np.min(vals) and prof["max"] == np.max(vals)
    # scipy defaults bias=True, fisher=True (Latanova_v1.py:185-186):
    # population g1 = m3/m2^1.5, excess g2 = m4/m2^2 - 3 (no scipy in this
    # container — same formulas via numpy central moments)
    m = vals - vals.mean()
    m2, m3, m4 = (m**2).mean(), (m**3).mean(), (m**4).mean()
    assert prof["skew"] == pytest.approx(m3 / m2**1.5, rel=1e-9)
    assert prof["kurtosis"] == pytest.approx(m4 / m2**2 - 3, rel=1e-9)
    # np.percentile linear interpolation (Latanova_v1.py:187-188)
    assert prof["q1"] == pytest.approx(np.percentile(vals, 25), rel=1e-12)
    assert prof["q3"] == pytest.approx(np.percentile(vals, 75), rel=1e-12)
    assert prof["n_samples"] == len(vals)


def test_numeric_profile_degenerate(spark):
    one = spark.createDataFrame([(5.0,)], ["x"])
    p = column_stats(one, {"x": "float"})["x"]
    assert p["std"] == 0.0 and p["skew"] == 0.0 and p["kurtosis"] == 0.0


def test_bool_profile_excludes_nonvocab(spark):
    # values outside both vocab sets are EXCLUDED (Latanova_v1.py:235-241)
    df = spark.createDataFrame(
        [("yes",), ("no",), ("Yes",), ("maybe",), ("TRUE",), (None,)], ["b"]
    )
    p = column_stats(df, {"b": "boolean"})["b"]
    assert p["n_samples"] == 4  # maybe + null excluded
    assert p["true_count"] == 3 and p["false_count"] == 1
    assert p["true_probability"] == pytest.approx(0.75)
    assert p["format"] == "yes_no"  # 2 yes_no beats 1 true_false


def test_bool_format_tie_break(spark):
    # tie → earliest dict key wins (Latanova_v1.py:118): true_false
    df = spark.createDataFrame([("true",), ("no",)], ["b"])
    assert column_stats(df, {"b": "boolean"})["b"]["format"] == "true_false"


def test_cat_profile_order_and_probs(spark):
    df = spark.createDataFrame([("a",)] * 3 + [("b",)] * 3 + [("c",)] * 1, ["v"])
    p = column_stats(df, {"v": "categorical"})["v"]
    assert p["n_categories"] == 3
    # tie between a and b → value asc
    assert p["categories"][:2] == ["a", "b"]
    assert p["most_common"] == "a"
    assert p["probabilities"][0] == pytest.approx(3 / 7)
    assert p["n_samples"] == 7


def test_datetime_profile_epoch_parity(spark):
    import pandas as pd

    dates = ["2020-01-01", "2020-06-15", "2021-12-31", "2020-01-01"]
    df = spark.createDataFrame([(d,) for d in dates], ["d"])
    p = column_stats(df, {"d": "datetime"})["d"]
    ts = pd.to_datetime(pd.Series(dates)).astype(np.int64) // 10**9
    assert p["mean"] == pytest.approx(np.mean(ts), rel=1e-12)
    assert p["std"] == pytest.approx(np.std(ts), rel=1e-9)
    assert detect_date_format(df, "d") == "YYYY-MM-DD"
    assert p["min_date"] == "2020-01-01 00:00:00"
    assert p["max_date"] == "2021-12-31 00:00:00"


def test_deterministic_exact_path_large_magnitude_falls_back(spark):
    """A mostly-small INTEGER column with a 9-digit tail passes the old
    mx<1e9 guard, but sum(y^4) overflows decimal(38,0) — a silent NULL
    kurt with ANSI off, an exception with it. The n-aware guard must
    decline the exact path and keep the correct double moments."""
    from etl_processes_spark.profile import profile

    vals = [i % 1000 for i in range(9600)] + [
        900_000_000 + i for i in range(400)  # 4% long-digit: still INTEGER
    ]
    df = spark.createDataFrame([(int(v),) for v in vals], ["big"])
    p = profile(df, deterministic=True, sample_key="big", sample_rows=len(vals))["big"]
    assert p.logical_type == "integer"
    stats = p.stats
    assert stats["kurtosis"] is not None        # not the overflow NULL
    mean = sum(vals) / len(vals)
    assert abs(stats["mean"] - mean) / mean < 1e-6


def test_deterministic_integer_with_fractions_not_rounded(spark):
    """int_ratio >= 0.95 classes a column INTEGER even with a few
    fractional values; the decimal(9,0) cast must NOT silently round them
    (column_stats' fractional-part guard)."""
    from etl_processes_spark.profile import profile

    vals = [float(i % 9) for i in range(96)] + [1.5, 2.5, 3.5, 4.5]
    df = spark.createDataFrame([(v,) for v in vals], ["mostly_int"])
    p = profile(df, deterministic=True, sample_key="mostly_int", sample_rows=len(vals))[
        "mostly_int"
    ]
    true_mean = sum(vals) / len(vals)
    assert abs(p.stats["mean"] - true_mean) < 1e-9


def test_exact_percentiles_distributed_matches_percentile_agg(spark):
    # the distributed-selection path must be bit-identical to Spark's
    # exact percentile() aggregate (and survive ties/duplicates)
    import numpy as np
    from pyspark.sql import functions as F

    from etl_processes_spark.profile.profilers import exact_percentiles_distributed

    rng = np.random.RandomState(7)
    vals = np.concatenate([rng.randn(5000) * 100, np.full(500, 3.25)])  # ties
    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    qs = [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    n, got = exact_percentiles_distributed(df, "x", qs, parts=8)
    ref = df.agg(
        F.percentile("x", F.array(*[F.lit(q) for q in qs]))
    ).collect()[0][0]
    assert n == len(vals)
    assert got == list(ref)


def test_exact_percentiles_distributed_empty_and_single(spark):
    import math

    from etl_processes_spark.profile.profilers import exact_percentiles_distributed

    empty = spark.createDataFrame([], "x double")
    n, vs = exact_percentiles_distributed(empty, "x", [0.5])
    assert n == 0 and math.isnan(vs[0])
    one = spark.createDataFrame([(42.0,)], "x double")
    n, vs = exact_percentiles_distributed(one, "x", [0.25, 0.75])
    assert n == 1 and vs == [42.0, 42.0]


def test_numeric_profile_distributed_route_bit_identical(spark, monkeypatch, tmp_path):
    # the 100 TB percentile route must return the SAME one-row profile as
    # the single-task exact aggregate, bit for bit; the size threshold alone
    # picks the route, so the frames are parquet-backed (a known size)
    import numpy as np

    from etl_processes_spark.profile import profilers

    def parquet(rows, name):
        path = str(tmp_path / name)
        spark.createDataFrame(rows, "x double").write.parquet(path)
        return spark.read.parquet(path)

    rng = np.random.RandomState(23)
    vals = np.concatenate([rng.lognormal(4, 2, 20000), np.full(300, 17.5)])
    df = parquet([(float(v),) for v in vals], "vals")
    ranges = []
    real = profilers.exact_percentiles_distributed

    def spy(*args, **kw):
        ranges.append(1)
        return real(*args, **kw)

    monkeypatch.setattr(profilers, "exact_percentiles_distributed", spy)
    monkeypatch.setattr(profilers, "DISTRIBUTED_THRESHOLD_BYTES", 1 << 62)
    a = profilers.numeric_profile_df(df, "x").collect()[0].asDict()
    assert ranges == []
    monkeypatch.setattr(profilers, "DISTRIBUTED_THRESHOLD_BYTES", -1)
    b = profilers.numeric_profile_df(df, "x").collect()[0].asDict()
    assert ranges == [1]
    assert a == b
    # empty frame: the distributed route yields n_samples=0 with NULL percentiles
    e = profilers.numeric_profile_df(parquet([], "empty"), "x").collect()[0]
    assert ranges == [1, 1]
    assert e["n_samples"] == 0 and e["median"] is None


def test_unknown_size_frame_routes_exact_with_partition_floor(spark, monkeypatch):
    """An RDD-backed frame has no size estimate. numeric_profile_df must
    treat it as small (exact), and the distributed selection must keep its
    32-partition floor instead of sizing itself from an unknown estimate."""
    from etl_processes_spark.profile import profilers

    rdd = spark.sparkContext.parallelize([(float(i),) for i in range(100)], 2)
    df = spark.createDataFrame(rdd, "x double")

    widths = []
    real = type(df).repartitionByRange

    def spy(self, n, *cols):
        widths.append(n)
        return real(self, n, *cols)

    monkeypatch.setattr(type(df), "repartitionByRange", spy)
    row = profilers.numeric_profile_df(df, "x").collect()[0]
    assert row["median"] == 49.5 and row["n_samples"] == 100
    assert widths == []  # exact route: no range partitioning
    n, (med,) = profilers.exact_percentiles_distributed(df, "x", [0.5])
    assert (n, med) == (100, 49.5)
    assert widths == [profilers.DISTRIBUTED_PARTS]
