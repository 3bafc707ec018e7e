"""Generator semantics: seeded determinism, distribution tolerance, clipping,
bround (half-even) parity with np.round."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from etl_processes_spark.generate import generate
from etl_processes_spark.generate.generators import (
    bootstrap_resample,
    gen_boolean,
    gen_categorical,
    gen_datetime,
    gen_numeric,
)
from etl_processes_spark.profile.types import ColumnProfile

NUM_STATS = {"mean": 100.0, "std": 15.0, "min": 40.0, "max": 160.0}


def test_gen_numeric_clip_round_and_determinism(spark):
    df = spark.range(5000).select(gen_numeric(NUM_STATS, False, 3).alias("x"))
    pdf = df.toPandas()
    assert pdf.x.min() >= 40.0 and pdf.x.max() <= 160.0
    # 2-dp rounding
    assert (np.round(pdf.x * 100) == pdf.x * 100).all() or np.allclose(
        pdf.x, np.round(pdf.x, 2)
    )
    assert pdf.x.mean() == pytest.approx(100.0, abs=1.5)
    pdf2 = spark.range(5000).select(gen_numeric(NUM_STATS, False, 3).alias("x")).toPandas()
    assert (pdf.x.values == pdf2.x.values).all()


def test_gen_numeric_integer_bround(spark):
    # bround = half-to-even, matching np.round (Latanova_v1.py:359 / Q3)
    stats = {"mean": 2.5, "std": 0.0, "min": 2.5, "max": 2.5}
    vals = spark.range(4).select(gen_numeric(stats, True, 1).alias("x")).toPandas().x
    assert set(vals) == {2}  # np.round(2.5) == 2, not 3


def test_gen_boolean_formats_and_prob(spark):
    stats = {"true_probability": 0.3}
    pdf = spark.range(20000).select(gen_boolean(stats, "yn", 5).alias("b")).toPandas()
    assert set(pdf.b) <= {"Y", "N"}
    assert (pdf.b == "Y").mean() == pytest.approx(0.3, abs=0.02)
    native = spark.range(10).select(gen_boolean(stats, "bool", 5).alias("b"))
    assert dict(native.dtypes)["b"] == "boolean"


def test_gen_categorical_distribution(spark):
    stats = {"categories": ["x", "y", "z"], "probabilities": [0.6, 0.3, 0.1]}
    frame = spark.range(30000).withColumn("__r", F.rand(9))
    pdf = frame.select(gen_categorical(stats, F.col("__r")).alias("c")).toPandas()
    freqs = pdf.c.value_counts(normalize=True)
    assert freqs["x"] == pytest.approx(0.6, abs=0.02)
    assert freqs["y"] == pytest.approx(0.3, abs=0.02)
    assert freqs["z"] == pytest.approx(0.1, abs=0.02)


def test_gen_datetime_range_and_format(spark):
    stats = {"mean": 1.6e9, "std": 86400.0 * 100, "min": 1.55e9, "max": 1.65e9}
    pdf = spark.range(1000).select(gen_datetime(stats, "MM/DD/YYYY", 7).alias("d")).toPandas()
    assert pdf.d.str.match(r"\d{2}/\d{2}/\d{4}").all()
    stats0 = dict(stats, std=0.0)  # std fallback 30 days (Latanova_v1.py:411)
    pdf0 = spark.range(1000).select(gen_datetime(stats0, None, 7).alias("d")).toPandas()
    assert pdf0.d.nunique() > 1  # fallback std produced spread


def test_bootstrap_resample_only_source_values(spark):
    entries = ["a@x.com", "b@y.org", "c@z.net"]
    pdf = spark.range(500).select(bootstrap_resample(entries, 13).alias("e")).toPandas()
    assert set(pdf.e) <= set(entries)
    assert pdf.e.nunique() == 3


def test_generate_full_table_deterministic(spark):
    profiles = {
        "amount": ColumnProfile("amount", "float", None, NUM_STATS),
        "flag": ColumnProfile("flag", "boolean", "yes_no", {"true_probability": 0.5}),
        "seg": ColumnProfile(
            "seg", "categorical", None,
            {"categories": ["A", "B"], "probabilities": [0.7, 0.3]},
        ),
        "note": ColumnProfile("note", "unknown", None, {}),
    }
    a = generate(spark, profiles, 200, seed=31).toPandas()
    b = generate(spark, profiles, 200, seed=31).toPandas()
    assert a.equals(b)
    assert list(a.columns) == ["amount", "flag", "seg", "note"]
    assert (a.note == "").all()


def test_generate_with_column_named_id(spark):
    # A profiled column named "id" must not collide with the internal
    # spark.range id (regression: AMBIGUOUS_REFERENCE in the final select
    # and in u_expr's F.col("id")).
    profiles = {
        "id": ColumnProfile("id", "integer", None, NUM_STATS),
        "seg": ColumnProfile(
            "seg", "categorical", None,
            {"categories": ["A", "B"], "probabilities": [0.7, 0.3]},
        ),
    }
    out = generate(spark, profiles, 100, seed=31).toPandas()
    assert list(out.columns) == ["id", "seg"]
    assert len(out) == 100
    # and the values match a same-seed run where the column has a safe name,
    # i.e. the collision-proofing does not change the generated stream
    safe = {
        "amount": ColumnProfile("amount", "integer", None, NUM_STATS),
        "seg": profiles["seg"],
    }
    ref = generate(spark, safe, 100, seed=31).toPandas()
    assert (out["id"].to_numpy() == ref["amount"].to_numpy()).all()
    assert (out["seg"] == ref["seg"]).all()


def test_deterministic_profile_is_partition_invariant(spark):
    """profile(deterministic=True) + generate must produce the identical
    table regardless of input partitioning — the property that lets the
    whole pipeline be hash-gated cross-engine."""
    from etl_processes_spark.generate import generate
    from etl_processes_spark.profile import profile

    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    outs = []
    for parts in (1, 7):
        profs = profile(
            df.repartition(parts),
            deterministic=True,
            sample_key="o_orderkey",
            text_stats=False,
        )
        outs.append(sorted(map(tuple, generate(spark, profs, 100, seed=5).collect())))
    assert outs[0] == outs[1]


def test_deterministic_profile_guards_fractional_floats(spark):
    """FLOAT columns with >2 decimal places must KEEP their double moments
    in deterministic mode (cents-rounding would corrupt them to ~0)."""
    from etl_processes_spark.profile import profile

    df = spark.createDataFrame(
        [(i, 0.001 + i * 0.0001) for i in range(50)], ["id", "x"]
    )
    profs = profile(
        df, deterministic=True, sample_key="id", text_stats=False, sample_rows=50
    )
    m = profs["x"].stats["mean"]
    assert abs(m - (0.001 + 0.0001 * 49 / 2)) < 1e-6  # true mean, not 0.0


def test_validate_exact_empty_column_returns_error(spark):
    from etl_processes_spark.profile.types import ColumnProfile
    from etl_processes_spark.validate import validate

    empty = spark.createDataFrame([], "x double")
    prof = ColumnProfile("x", "float", None, {"mean": 1.0, "std": 0.0, "median": 1.0})
    assert "error" in validate({"x": prof}, empty, exact=True)["x"]


def test_deterministic_profile_guards_huge_integers(spark):
    """Integers outside the decimal(9,0) exact domain keep their correct
    double moments (the exact override would silently null-overflow)."""
    from etl_processes_spark.profile import profile

    # 17 digits: outside the decimal(9,0) domain AND outside the 7-15-digit
    # phone heuristic (10-digit ints faithfully type as 'phone' — Q1 quirk)
    big = 10_000_000_000_000_000
    df = spark.createDataFrame(
        [(i, big + i) for i in range(50)], ["id", "x"]
    )
    profs = profile(
        df, deterministic=True, sample_key="id", text_stats=False, sample_rows=50
    )
    m = profs["x"].stats["mean"]
    assert abs(m - (big + 24.5)) < 8.0  # true mean (double ulp ~2 at 1e16)
