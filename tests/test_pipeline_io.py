"""End-to-end pipeline + io + plots + large-entry bootstrap join path."""

import os
import shutil
import tempfile

import pytest

from etl_processes_spark.generate.generators import bootstrap_resample_join
from etl_processes_spark.io import profile_sink, profile_source, report_sink
from etl_processes_spark.pipeline import run_reference_pipeline


def test_reference_pipeline_end_to_end(spark):
    tmp = tempfile.mkdtemp(prefix="pipe_")
    try:
        out_csv = os.path.join(tmp, "synth_csv")
        prof_json = os.path.join(tmp, "profiles.json")
        synth, validation, report = run_reference_pipeline(
            spark,
            "/root/reference/customer_data_test.csv",
            output_csv=out_csv,
            profile_json=prof_json,
            n_samples=50,
            seed=11,
        )
        assert synth.count() == 50
        assert set(validation) == set(synth.columns)
        assert "type summary" in report
        # profile artifact round-trips
        profs = profile_source(prof_json)
        assert profs["email"].logical_type == "email"
        assert profs["is_vip"].logical_type == "boolean"
        # csv sink wrote data
        back = spark.read.csv(out_csv, header=True)
        assert back.count() == 50
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_text_columns_are_validated_with_moment_errors(spark):
    """validate() must NOT skip text/email/phone: the reference re-vectorizes
    and diffs averaged per-dim moments (Latanova_v1.py:430-454). Errors must
    be finite and the mean error small — MVN sampling preserves the mean."""
    from etl_processes_spark.generate import generate
    from etl_processes_spark.profile import profile
    from etl_processes_spark.validate import validate

    df = (
        spark.read.csv("/root/reference/customer_data_test.csv", header=True, inferSchema=True)
        .na.drop("any")
    )
    profs = profile(df.select("feedback", "email"))
    assert "overall_mean" in profs["feedback"].stats  # text stats attached
    synth = generate(spark, profs, 200, seed=3)
    res = validate(profs, synth)
    for col in ("feedback", "email"):
        assert "skipped" not in res[col], res[col]
        for key in ("mean_error", "std_error", "skew_error", "kurt_error"):
            assert key in res[col] and res[col][key] == res[col][key]  # finite
    # MVN text generation matches the learned mean closely
    assert res["feedback"]["mean_error"] < 0.15


def test_bootstrap_join_path(spark):
    entries = [f"entry_{i}" for i in range(3000)]
    out = bootstrap_resample_join(spark, spark.range(500), "e", entries, seed=5)
    vals = out.select("e").toPandas().e
    assert len(vals) == 500
    assert set(vals) <= set(entries)
    # deterministic
    vals2 = bootstrap_resample_join(spark, spark.range(500), "e", entries, seed=5).select("e").toPandas().e
    assert sorted(vals) == sorted(vals2)


def test_plots_when_matplotlib_present():
    from etl_processes_spark import plots

    if not plots.HAVE_MPL:
        pytest.skip("matplotlib not installed")
    tmp = tempfile.mkdtemp(prefix="plots_")
    try:
        p1 = plots.plot_histogram_overlay(
            [(0, 5), (1, 9)], [(0, 4), (1, 10)], os.path.join(tmp, "h.png")
        )
        p2 = plots.plot_category_bars([("a", 3), ("b", 1)], os.path.join(tmp, "c.png"))
        p3 = plots.plot_pca_scatter(
            [(0.0, 1.0), (1.0, 0.5)], [(0.2, 0.8)], os.path.join(tmp, "p.png")
        )
        for p in (p1, p2, p3):
            assert p and os.path.getsize(p) > 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_json_orc_roundtrip_preserve_values(spark, tmp_path):
    from etl_processes_spark.io import json_scan, json_sink, orc_scan, orc_sink

    df = spark.createDataFrame(
        [(1, "a", 2.5), (2, "b", -1.0), (3, None, 0.0)], ["id", "s", "x"]
    )
    json_sink(df, str(tmp_path / "j"))
    back_j = json_scan(spark, str(tmp_path / "j"), schema=df.schema)
    assert sorted(map(tuple, back_j.collect())) == sorted(map(tuple, df.collect()))

    orc_sink(df, str(tmp_path / "o"))
    back_o = orc_scan(spark, str(tmp_path / "o"))
    assert back_o.schema == df.schema  # orc is typed; exact schema survives
    assert sorted(map(tuple, back_o.collect())) == sorted(map(tuple, df.collect()))
