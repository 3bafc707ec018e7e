"""validate() against directly computed moments of the synthetic frame, for
every statistics-bearing column type, with the exact-decimal re-profile off
and on (Latanova_v1.py:455-493)."""

import datetime as dt

import numpy as np
import pytest

from etl_processes_spark.profile.types import ColumnProfile
from etl_processes_spark.validate import validate

LEARNED = {"mean": 10.0, "std": 2.0, "median": 9.0}


def _moment_errors(vals, learned=LEARNED):
    synth = {"mean": np.mean(vals), "std": np.std(vals), "median": np.median(vals)}
    return {f"{k}_error": abs(synth[k] - learned[k]) for k in ("mean", "std", "median")}


@pytest.fixture(scope="module")
def synth_frame(spark):
    rng = np.random.RandomState(17)
    n = 60
    ints = rng.randint(-500, 500, n).tolist()
    floats = np.round(rng.normal(40, 15, n), 2).tolist()
    base = dt.datetime(2021, 3, 4, 13, 45, 10)
    secs = rng.randint(0, 400 * 86400, n).tolist()
    dates = [(base + dt.timedelta(seconds=s)).strftime("%Y-%m-%d %H:%M:%S") for s in secs]
    bools = [["yes", "no", "maybe"][k] for k in rng.choice(3, n, p=[0.6, 0.3, 0.1])]
    cats = [["a", "b", "c"][k] for k in rng.choice(3, n, p=[0.6, 0.3, 0.1])]
    rows = list(zip(ints, floats, dates, bools, cats, [None] * n, ["w"] * n, ["?"] * n))
    df = spark.createDataFrame(
        rows,
        "i long, f double, d string, b string, c string, e double, t string, u string",
    ).persist()
    # naive strings parse as UTC (the session time zone)
    epoch = np.array(
        [(base + dt.timedelta(seconds=s) - dt.datetime(1970, 1, 1)).total_seconds() for s in secs]
    )
    yield df, {"i": np.array(ints, float), "f": np.array(floats), "d": epoch,
               "b": bools, "c": cats}
    df.unpersist()


def _profiles():
    p = {
        c: ColumnProfile(c, t, None, dict(LEARNED))
        for c, t in (("i", "integer"), ("f", "float"), ("d", "datetime"), ("e", "float"))
    }
    p["b"] = ColumnProfile("b", "boolean", "yes_no", {"true_probability": 0.5})
    p["c"] = ColumnProfile("c", "categorical", None, {"n_categories": 5, "most_common": "a"})
    p["t"] = ColumnProfile("t", "text", None, {})  # no embedding stats
    p["u"] = ColumnProfile("u", "unknown", None, {})
    p["gone"] = ColumnProfile("gone", "integer", None, dict(LEARNED))
    return p


@pytest.mark.parametrize("exact", [False, True])
def test_validate_matches_direct_moments(synth_frame, exact):
    df, v = synth_frame
    profiles = _profiles()
    res = validate(profiles, df, exact=exact)
    assert list(res) == list(profiles)
    # exact mode rounds its moments to 6 digits
    tol = 1e-6 if exact else 1e-9
    for c in ("i", "f"):
        want = _moment_errors(v[c])
        assert set(res[c]) == set(want)
        for k, w in want.items():
            assert res[c][k] == pytest.approx(w, rel=1e-9, abs=tol), (c, k)
    # datetimes: epoch seconds, or whole epoch days under exact
    secs = np.floor(v["d"] / 86400) * 86400 if exact else v["d"]
    for k, w in _moment_errors(secs).items():
        assert res["d"][k] == pytest.approx(w, rel=1e-9, abs=tol), ("d", k)
    # boolean: values outside both vocabularies are excluded
    yes, no = v["b"].count("yes"), v["b"].count("no")
    assert res["b"] == {"true_prob_error": pytest.approx(abs(yes / (yes + no) - 0.5))}
    counts = {x: v["c"].count(x) for x in set(v["c"])}
    top = max(sorted(counts), key=counts.get)
    assert res["c"] == {"n_categories_error": abs(len(counts) - 5),
                        "most_common_match": top == "a"}
    assert res["e"] == {"error": "empty synthetic column"}
    assert res["t"] == {"error": "profile has no text vector stats"}
    assert res["u"] == {"skipped": "unknown"}
    assert res["gone"] == {"error": "column missing from synthetic frame"}


def test_validate_reports_shared_pass_failure_per_column(synth_frame, monkeypatch):
    import importlib

    # the package re-exports the function under the module's name
    vmod = importlib.import_module("etl_processes_spark.validate")

    def boom(*args, **kwargs):
        raise RuntimeError("stats pass failed")

    monkeypatch.setattr(vmod, "column_stats", boom)
    df, _ = synth_frame
    res = validate(_profiles(), df)
    for c in ("i", "f", "d", "b", "c", "e"):
        assert res[c] == {"error": "RuntimeError: stats pass failed"}
    assert res["t"] == {"error": "profile has no text vector stats"}
    assert res["gone"] == {"error": "column missing from synthetic frame"}
