"""Time-series resample + gap-fill and exact heavy hitters."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from etl_processes_spark.ops.textstats import heavy_hitters, token_heavy_hitters
from etl_processes_spark.ops.timeseries import (
    gap_fill,
    resample,
    resample_gap_fill,
    time_bucket,
)


def _ts(h, m=0, s=0):
    return dt.datetime(2024, 1, 1, h, m, s)


@pytest.fixture()
def series(spark):
    # user 1: hourly buckets 0, 1, 4 (gap of 2); user 2: buckets 2, 3
    rows = [
        (1, _ts(0, 10), 10.0),
        (1, _ts(0, 50), 20.0),   # bucket 0 avg 15.0
        (1, _ts(1, 30), 30.0),   # bucket 1
        (1, _ts(4, 0), 90.0),    # bucket 4 — buckets 2,3 missing
        (2, _ts(2, 15), 5.0),
        (2, _ts(3, 45), 7.0),
    ]
    return spark.createDataFrame(rows, "user_id long, ts timestamp, value double")


def test_resample_exact_avg_and_buckets(series):
    out = resample(series, "user_id", "ts", "value", 3600)
    got = {(r["user_id"], r["bucket"]): (r["n_rows"], r["value"]) for r in out.collect()}
    base = 473352  # floor(epoch(2024-01-01)/3600)
    assert got[(1, base + 0)] == (2, 15.0)
    assert got[(1, base + 1)] == (1, 30.0)
    assert got[(1, base + 4)] == (1, 90.0)
    assert got[(2, base + 2)] == (1, 5.0)
    assert len(got) == 5


def test_gap_fill_linear(series):
    res = resample(series, "user_id", "ts", "value", 3600)
    out = gap_fill(res, "user_id", method="linear")
    got = {(r["user_id"], r["bucket"]): (r["value"], r["filled"]) for r in out.collect()}
    base = 473352
    # user 1 grid spans 0..4 — buckets 2 and 3 interpolated between 30 and 90
    assert got[(1, base + 2)] == (50.0, 1)
    assert got[(1, base + 3)] == (70.0, 1)
    assert got[(1, base + 0)] == (15.0, 0)
    assert got[(1, base + 4)] == (90.0, 0)
    # user 2 has no gaps
    assert got[(2, base + 2)] == (5.0, 0)
    assert got[(2, base + 3)] == (7.0, 0)
    assert len(got) == 7  # 5 + 2 filled, no duplicate rows for data buckets


def test_gap_fill_ffill_value_none(series):
    res = resample(series, "user_id", "ts", "value", 3600)
    base = 473352
    ff = {
        (r["user_id"], r["bucket"]): r["value"]
        for r in gap_fill(res, "user_id", method="ffill").collect()
    }
    assert ff[(1, base + 2)] == 30.0 and ff[(1, base + 3)] == 30.0
    cv = {
        (r["user_id"], r["bucket"]): r["value"]
        for r in gap_fill(res, "user_id", method="value", fill_value=-1.0).collect()
    }
    assert cv[(1, base + 2)] == -1.0
    nn = {
        (r["user_id"], r["bucket"]): r["value"]
        for r in gap_fill(res, "user_id", method="none").collect()
    }
    assert nn[(1, base + 2)] is None
    with pytest.raises(ValueError):
        gap_fill(res, "user_id", method="bogus")


def test_gap_fill_partition_invariant(series):
    res = resample(series, "user_id", "ts", "value", 3600)
    a = sorted(map(tuple, gap_fill(res, "user_id").collect()))
    b = sorted(map(tuple, gap_fill(res.repartition(7), "user_id").collect()))
    assert a == b


def test_resample_gap_fill_renders_ts(series):
    out = resample_gap_fill(series, "user_id", "ts", "value", 3600)
    row = out.filter((F.col("user_id") == 1) & (F.col("filled") == 1)).orderBy("bucket").first()
    assert row["bucket_ts"] == _ts(2)
    assert row["value"] == 50.0


def test_time_bucket_hour_boundary(spark):
    # exactly on the boundary must land in the opening bucket
    df = spark.createDataFrame([(dt.datetime(2024, 1, 1, 1, 0, 0),)], "ts timestamp")
    assert df.select(time_bucket("ts", 3600).alias("b")).first()["b"] == 473353


def test_heavy_hitters_exact_vs_naive(spark):
    # zipfy column: value i appears (60 >> i) times
    rows = [(f"v{i}",) for i in range(6) for _ in range(60 >> i)]
    df = spark.createDataFrame(rows, "x string").repartition(5)
    out = heavy_hitters(df, "x", min_share=0.1)
    naive = (
        df.groupBy("x").count()
        .filter(F.col("count") > 0.1 * len(rows))
        .collect()
    )
    assert {(r["value"], r["cnt"]) for r in out.collect()} == {
        (r["x"], r["count"]) for r in naive
    }
    # strict threshold: shares are exact, ordering defined
    got = out.collect()
    assert [r["value"] for r in got] == sorted(
        [r["value"] for r in got], key=lambda v: (-dict((g["value"], g["cnt"]) for g in got)[v], v)
    )


def test_heavy_hitters_empty_and_none_frequent(spark):
    empty = spark.createDataFrame([], "x string")
    assert heavy_hitters(empty, "x").count() == 0
    # uniform column, high threshold -> nothing qualifies
    uni = spark.createDataFrame([(f"u{i}",) for i in range(50)], "x string")
    assert heavy_hitters(uni, "x", min_share=0.5).count() == 0


def test_token_heavy_hitters(spark):
    docs = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the dog ran"), (3, "the end")],
        "doc_id long, text string",
    )
    out = {r["value"]: r["cnt"] for r in token_heavy_hitters(docs, "text", 0.2).collect()}
    assert out == {"the": 3}  # 3/9 > 0.2; every other token is 1/9


def test_rolling_stats_matches_pandas(spark):
    import numpy as np
    import pandas as pd

    from etl_processes_spark.ops.timeseries import rolling_stats

    vals = [10.0, 12.0, 11.0, 13.0, 100.0, 12.0, 11.5, 10.5]
    df = spark.createDataFrame(
        [(1, i, v) for i, v in enumerate(vals)], "k long, b long, value double"
    )
    out = rolling_stats(df, "k", "b", "value", window=4, z_threshold=3.0)
    got = {r["b"]: r for r in out.collect()}
    s = pd.Series(vals)
    mean = s.rolling(4, min_periods=1).mean()
    std = s.rolling(4, min_periods=1).std(ddof=0)
    for i in range(len(vals)):
        assert got[i]["roll_mean"] == pytest.approx(mean[i], abs=1e-9)
        assert got[i]["roll_std"] == pytest.approx(std[i], abs=1e-9)
        exp_z = 0.0 if std[i] == 0 else (vals[i] - mean[i]) / std[i]
        assert got[i]["zscore"] == pytest.approx(exp_z, abs=1e-9)
    # the spike is anomalous against its trailing window, neighbours are not
    assert got[4]["anomaly"] == 0 or abs(got[4]["zscore"]) > 1.5  # spike z capped by window var
    assert got[1]["anomaly"] == 0
    assert got[4]["roll_n"] == 4 and got[0]["roll_n"] == 1


def test_rolling_stats_partition_invariant(spark):
    from etl_processes_spark.ops.timeseries import rolling_stats

    rows = [(k, b, float((k * 7 + b * 3) % 11) + 0.25) for k in range(3) for b in range(40)]
    df = spark.createDataFrame(rows, "k long, b long, value double")
    a = sorted(map(tuple, rolling_stats(df, "k", "b", "value", window=5).collect()))
    b_ = sorted(map(tuple, rolling_stats(df.repartition(13), "k", "b", "value", window=5).collect()))
    assert a == b_


def test_rolling_stats_rejects_reserved_column(spark):
    from etl_processes_spark.ops.timeseries import rolling_stats

    df = spark.createDataFrame([(1, 0, 1.0, 5)], "k long, b long, value double, __c1 long")
    with pytest.raises(ValueError, match=r"input already has \['__c1'\]"):
        rolling_stats(df, "k", "b", "value")


def test_empty_inputs(spark):
    from etl_processes_spark.ops.dedup import edit_distance_pairs
    from etl_processes_spark.ops.textstats import tfidf_top_terms
    from etl_processes_spark.ops.timeseries import gap_fill, resample, rolling_stats

    ev = spark.createDataFrame([], "user_id long, ts timestamp, value double")
    res = resample(ev, "user_id", "ts", "value", 3600)
    assert res.count() == 0
    assert gap_fill(res, "user_id").count() == 0
    assert rolling_stats(res, "user_id", "bucket", "value").count() == 0
    docs = spark.createDataFrame([], "doc_id long, text string")
    assert tfidf_top_terms(docs, "doc_id", "text").count() == 0
    names = spark.createDataFrame([], "id long, s string")
    assert edit_distance_pairs(names, "id", "s").count() == 0


def test_single_point_series(spark):
    import datetime as dt

    from etl_processes_spark.ops.timeseries import gap_fill, resample, rolling_stats

    ev = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 5, 30), 42.0)],
        "user_id long, ts timestamp, value double",
    )
    res = resample(ev, "user_id", "ts", "value", 3600)
    gf = gap_fill(res, "user_id").collect()
    assert len(gf) == 1 and gf[0]["value"] == 42.0 and gf[0]["filled"] == 0
    rs = rolling_stats(res, "user_id", "bucket", "value").collect()
    assert rs[0]["roll_std"] == 0.0 and rs[0]["zscore"] == 0.0 and rs[0]["anomaly"] == 0


def test_gap_fill_linear_matches_pandas_property(spark):
    # property test: random sparse integer-bucket series -> gap_fill(linear)
    # equals pandas' set_index().reindex().interpolate(method='index')
    import random

    import numpy as np
    import pandas as pd

    rng = random.Random(11)
    for trial in range(5):
        rows = []
        for k in range(3):
            buckets = sorted(rng.sample(range(100), rng.randint(2, 12)))
            for b in buckets:
                rows.append((k, b, round(rng.uniform(-50, 50), 6)))
        df = spark.createDataFrame(rows, "k long, b long, value double").repartition(4)
        got = {
            (r["k"], r["b"]): r["value"]
            for r in __import__("etl_processes_spark.ops.timeseries", fromlist=["gap_fill"])
            .gap_fill(df, "k", bucket="b", method="linear")
            .collect()
        }
        pdf = pd.DataFrame(rows, columns=["k", "b", "value"])
        for k, g in pdf.groupby("k"):
            s = g.set_index("b")["value"]
            full = s.reindex(range(s.index.min(), s.index.max() + 1))
            interp = full.interpolate(method="index")
            for b, v in interp.items():
                assert got[(k, b)] == pytest.approx(v, abs=1e-9), (trial, k, b)


def test_gap_fill_differential_vs_pandas_twin(spark):
    # randomized series (irregular buckets, NULL-valued data rows, dup-free)
    # against a brute-force per-key twin of the contract: every bucket in
    # [min, max], linear interp between nearest present neighbours,
    # null-valued DATA rows imputed exactly like generated rows
    import random

    rng = random.Random(2024)
    rows = []
    for k in range(20):
        buckets = sorted(rng.sample(range(0, 200), rng.randint(1, 30)))
        for b in buckets:
            val = None if rng.random() < 0.2 else round(rng.uniform(-50, 50), 3)
            rows.append((k, b, val))
    df = spark.createDataFrame(rows, "k long, bucket long, value double")

    def twin(method):
        by_key = {}
        for k, b, v in rows:
            by_key.setdefault(k, []).append((b, v))
        out = {}
        for k, series in by_key.items():
            series.sort()
            have = {b: v for b, v in series}
            present = [(b, v) for b, v in series if v is not None]
            lo, hi = series[0][0], series[-1][0]
            for b in range(lo, hi + 1):
                v = have.get(b)
                filled = 1 if (b not in have or v is None) else 0
                if v is None:
                    prev = max(((pb, pv) for pb, pv in present if pb <= b), default=None)
                    nxt = min(((nb, nv) for nb, nv in present if nb >= b), default=None)
                    if method == "linear":
                        if prev and nxt:
                            pb, pv = prev
                            nb, nv = nxt
                            v = pv + (nv - pv) * ((b - pb) / (nb - pb))
                        elif prev or nxt:
                            v = (prev or nxt)[1]
                    elif method == "ffill":
                        v = (prev or nxt)[1] if (prev or nxt) else None
                    elif method == "value":
                        v = -1.0
                if b in have or b not in have:
                    out[(k, b)] = (v, filled)
        return out

    for method in ("linear", "ffill", "value", "none"):
        got = {
            (r["k"], r["bucket"]): (r["value"], r["filled"])
            for r in gap_fill(
                df, "k", "bucket", "value", method=method, fill_value=-1.0
            ).collect()
        }
        want = twin(method)
        assert set(got) == set(want), method
        for kk in want:
            gv, gf = got[kk]
            wv, wf = want[kk]
            assert gf == wf, (method, kk)
            if method == "none" and wf == 1:
                assert gv is None, (method, kk)
            elif wv is None:
                assert gv is None, (method, kk)
            else:
                assert gv == pytest.approx(wv, abs=1e-12), (method, kk)
