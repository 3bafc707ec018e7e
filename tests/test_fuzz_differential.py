"""Differential fuzzing of the inference/profiling cascade against a pandas
re-implementation of the reference's decision tree (Latanova_v1.py:124-170,
detect_special_format :64-86, detect_boolean_format :89-121) and profilers
(:173-298) — ~100 seeded random columns engineered around the decision
thresholds (email/phone > 0.7, numeric >= 0.9, int >= 0.95, datetime >= 0.8,
categorical <= 0.3 & < 50), including exact ties, so quirk Q1 (phone before
numeric/datetime) and every threshold comparison direction are pinned against
regressions no fixture row exercises.

Scope notes (documented contracts the fuzz respects):
- inference columns are <= 100 rows, so the reference's head(100) probes
  equal our full-column ratios (SURVEY Q6 divergence is then moot) — except
  the categorical-boundary columns (n=200), whose values match no probe;
- no 'NaN'/'Infinity' literal strings: pd.to_numeric coerces them to NaN
  (non-numeric) while Spark try_cast parses them (numeric) — a documented
  representational edge, not a tree difference;
- datetime strings use the four formats both parsers accept; any full date
  string is 'phone' by Q1 anyway (8+ digits), so the 0.8 datetime tie is
  only reachable through typed timestamp columns;
- distinct counts sit either at tiny cardinalities (HLL sparse mode: exact)
  or far from the 0.3/50 boundaries, since infer_types uses
  approx_count_distinct by design.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest

from etl_processes_spark.profile import column_stats, infer_types

BOOL_VOCAB = {"true", "false", "1", "0", "yes", "no", "y", "n", "t", "f"}
TRUE_SET = {"true", "yes", "1", "y", "t"}
FALSE_SET = {"false", "no", "0", "n", "f"}
DT_FORMATS = ("%Y-%m-%d %H:%M:%S", "%Y-%m-%d", "%m/%d/%Y", "%d-%m-%Y")


# ---------------------------------------------------------------------------
# pandas twin of the reference decision tree (order- and threshold-exact)
# ---------------------------------------------------------------------------


def _strip(series: pd.Series) -> pd.Series:
    return series.astype(str).str.strip()


def _dt_parseable(v: str) -> bool:
    # pandas to_datetime digit-string behavior (verified against pandas
    # directly): bare 4-digit year within Timestamp bounds or 8-digit
    # YYYYMMDD parse; every other all-digit string raises -> NaT
    if v.isdigit():
        if len(v) == 4:
            return 1678 <= int(v) <= 2262
        if len(v) == 8:
            try:
                dt.datetime.strptime(v, "%Y%m%d")
                return True
            except ValueError:
                return False
        return False
    for fmt in DT_FORMATS:
        try:
            dt.datetime.strptime(v, fmt)
            return True
        except ValueError:
            pass
    return False


def twin_detect_type(series: pd.Series, probe_rows: int | None = None) -> str:
    """``probe_rows`` mirrors the engine's probe mode (reference head(100),
    Latanova_v1.py:72,79,163): the regex/parse-heavy ratios (email/phone/
    datetime) are computed over the first ``probe_rows`` rows only, while
    counts/cardinalities/numeric ratios stay full-column — exactly the
    split inference_metrics makes."""
    s = series.dropna()
    if len(s) == 0:
        return "unknown"
    if s.dtype == bool:
        return "boolean"
    ul = _strip(s).str.lower().unique()
    if len(ul) <= 3 and set(ul) <= BOOL_VOCAB:
        return "boolean"
    sv = _strip(s)
    pv = sv if probe_rows is None else _strip(series.head(probe_rows).dropna())
    email = (
        pv.str.contains("@", regex=False)
        & pv.str.split("@").str[-1].str.contains(".", regex=False)
    ).mean()
    if email > 0.7:
        return "email"
    dlen = pv.str.replace(r"\D", "", regex=True).str.len()
    if ((dlen >= 7) & (dlen <= 15)).mean() > 0.7:
        return "phone"
    if pd.api.types.is_numeric_dtype(series):
        vals = s.to_numpy(dtype=float)
        intr = float(np.mean([float(v).is_integer() for v in vals]))
        return "integer" if intr >= 0.95 else "float"
    num = pd.to_numeric(s, errors="coerce")
    if float(num.notna().mean()) >= 0.9:
        vals = num.dropna().to_numpy(dtype=float)
        intr = float(np.mean([float(v).is_integer() for v in vals])) if len(vals) else 0.0
        return "integer" if intr >= 0.95 else "float"
    if pd.api.types.is_datetime64_any_dtype(series):
        return "datetime"
    dt_ratio = float(pv.map(_dt_parseable).mean()) if len(pv) else float("nan")
    if dt_ratio >= 0.8:
        return "datetime"
    uq = sv.nunique()
    if uq / len(s) <= 0.3 and uq < 50:
        return "categorical"
    return "text"


def twin_numeric_stats(vals: np.ndarray) -> dict:
    m = vals - vals.mean()
    m2, m3, m4 = (m**2).mean(), (m**3).mean(), (m**4).mean()
    return {
        "mean": float(np.mean(vals)),
        "std": float(np.std(vals)) if len(vals) > 1 else 0.0,
        "median": float(np.median(vals)),
        "min": float(np.min(vals)),
        "max": float(np.max(vals)),
        "skew": float(m3 / m2**1.5) if len(vals) > 2 and m2 > 0 else 0.0,
        "kurtosis": float(m4 / m2**2 - 3) if len(vals) > 3 and m2 > 0 else 0.0,
        "q1": float(np.percentile(vals, 25)),
        "q3": float(np.percentile(vals, 75)),
        "n_samples": len(vals),
    }


def twin_bool_stats(series: pd.Series) -> dict | None:
    s = series.dropna()
    vals = []
    for v in s:
        sv = str(v).strip().lower()
        if sv in TRUE_SET or v is True:
            vals.append(True)
        elif sv in FALSE_SET or v is False:
            vals.append(False)
    if not vals:
        return None
    fmts = dict.fromkeys(
        ["true_false", "yes_no", "one_zero", "yn", "tf", "bool"], 0
    )
    for v in s.head(100):
        sv = str(v).strip().lower()
        if v is True or v is False:
            fmts["bool"] += 1
        elif sv in ("true", "false"):
            fmts["true_false"] += 1
        elif sv in ("yes", "no"):
            fmts["yes_no"] += 1
        elif sv in ("1", "0"):
            fmts["one_zero"] += 1
        elif sv in ("y", "n"):
            fmts["yn"] += 1
        elif sv in ("t", "f"):
            fmts["tf"] += 1
    best = max(fmts, key=fmts.get)  # tie -> earliest key (dict order)
    return {
        "true_probability": float(np.mean(vals)),
        "true_count": int(sum(vals)),
        "false_count": int(len(vals) - sum(vals)),
        "n_samples": len(vals),
        "format": best if fmts[best] > 0 else None,
    }


# ---------------------------------------------------------------------------
# seeded column battery
# ---------------------------------------------------------------------------


def _inference_battery(seed: int) -> dict[str, pd.Series]:
    """~30 columns per seed, every decision branch + exact threshold ties."""
    rng = np.random.RandomState(seed)
    n = 100
    cols: dict[str, pd.Series] = {}

    def obj(name, values):
        cols[name] = pd.Series(values, dtype=object)

    pick = lambda opts, k=n: [opts[i] for i in rng.randint(0, len(opts), k)]

    # --- boolean vocab (<=3 distinct, inside vocab) + spoilers -------------
    obj("b_truefalse", pick(["true", "False", " TRUE "]))
    obj("b_yesno", pick(["yes", "NO", "y"]))
    obj("b_tf01", pick(["t", "f", "0"]))
    cols["b_int01"] = pd.Series(rng.randint(0, 2, n).astype(np.int64))
    cols["b_float01"] = pd.Series(rng.randint(0, 2, n).astype(np.float64))
    cols["b_bool"] = pd.Series(rng.randint(0, 2, n).astype(bool))
    obj("b_outside_vocab", pick(["true", "false", "maybe"]))  # not boolean
    cols["b_int012"] = pd.Series(rng.randint(0, 3, n).astype(np.int64))  # 0,1,2: vocab fails on '2'

    # --- email around the 0.7 tie ------------------------------------------
    mails = [f"user{i}@ex{i % 7}.com" for i in range(n)]
    junk = [f"plainword{i}" for i in range(n)]
    obj("e_all", mails)
    obj("e_tie_70", mails[:70] + junk[70:])      # == 0.7: strictly-> NOT email
    obj("e_above_71", mails[:71] + junk[71:])    # > 0.7: email
    obj("e_with_nulls", [m if i % 5 else None for i, m in enumerate(mails)])

    # --- phone around 0.7 / digit-length 7..15 boundaries -------------------
    ph = [f"+1-555-{rng.randint(1000000, 9999999)}" for _ in range(n)]
    obj("p_all", ph)
    obj("p_tie_70", ph[:70] + junk[70:])         # == 0.7 -> falls through
    obj("p_6digit", [f"ref-{rng.randint(100000, 999999)}x" for _ in range(n)])  # 6 digits
    obj("p_16digit", [f"id-{rng.randint(10**15, 10**16 - 1)}x" for _ in range(n)])
    # 7/15 inclusive bounds
    obj("p_7digit", [f"tel {rng.randint(10**6, 10**7 - 1)}" for _ in range(n)])
    obj("p_15digit", [f"tel {rng.randint(10**14, 10**15 - 1)}" for _ in range(n)])

    # --- Q1: large numerics are phone --------------------------------------
    cols["q1_int8digit"] = pd.Series(rng.randint(10**7, 10**8, n).astype(np.int64))
    cols["q1_int_small"] = pd.Series(rng.randint(0, 900, n).astype(np.int64))  # 1-3 digits
    obj("q1_date_iso", [f"20{rng.randint(10, 23):02d}-0{rng.randint(1, 9)}-1{rng.randint(0, 9)}" for _ in range(n)])
    obj("q1_date_slash", [f"0{rng.randint(1, 9)}/1{rng.randint(0, 9)}/20{rng.randint(10, 23):02d}" for _ in range(n)])

    # --- numeric dtype: int-ratio 0.95 tie ---------------------------------
    f = rng.uniform(1, 900, n).round(3)
    fi = np.where(np.arange(n) < 95, np.floor(f), f + 0.5)  # exactly 95 integral
    cols["n_float_tie_95"] = pd.Series(fi)                   # >= 0.95 -> integer
    fi2 = np.where(np.arange(n) < 94, np.floor(f), f + 0.5)
    cols["n_float_94"] = pd.Series(fi2)                      # 0.94 -> float
    cols["n_float_plain"] = pd.Series(rng.uniform(0, 100, n).round(4) + 0.1)
    cols["n_int_plain"] = pd.Series(rng.randint(1000, 9999, n).astype(np.int64))  # 4 digits

    # --- numeric strings: 0.9 tie ------------------------------------------
    nums = [str(rng.randint(100, 99999)) for _ in range(n)]   # 3-5 digits
    words = [f"w{i}str" for i in range(n)]
    obj("s_num_tie_90", nums[:90] + words[90:])   # == 0.9 -> numeric wins
    obj("s_num_89", nums[:89] + words[89:])       # 0.89 -> falls through
    obj("s_float_strings", [f"{rng.uniform(0, 500):.3f}" for _ in range(n)])
    obj("s_num_mixed_int_tie", [str(rng.randint(10, 99999)) for _ in range(95)]
        + [f"{rng.uniform(0, 9):.2f}5" for _ in range(5)])    # int_ratio == 0.95

    # --- digit-string datetime edge (the fuzz-found Spark year-parse bug) ---
    obj("dt_year4", [str(rng.randint(1900, 2100)) for _ in range(85)]
        + words[:15])  # 0.85 datetime >= 0.8, numeric 0.85 < 0.9 -> datetime
    obj("dt_year5", [str(rng.randint(10000, 99999)) for _ in range(85)]
        + words[:15])  # 5-digit "years" must NOT parse -> text/categorical
    obj("dt_yyyymmdd_mixed",
        [f"202{rng.randint(0, 4)}0{rng.randint(1, 9)}1{rng.randint(0, 9)}"
         for _ in range(60)] + words[:40])  # 8 digits: phone branch wins upstream

    # --- datetime dtype ------------------------------------------------------
    base = dt.datetime(2021, 3, 1)
    cols["d_typed"] = pd.Series(
        [base + dt.timedelta(seconds=int(x)) for x in rng.randint(0, 10**7, n)]
    )

    # --- categorical / text --------------------------------------------------
    obj("c_small", pick([f"cat_{j}x" for j in range(8)]))
    obj("c_text_unique", [f"unique sentence number {i} ok" for i in range(n)])
    obj("c_empty", [None] * n)  # unknown
    obj(
        "c_mixed_nulls",
        [f"val_{rng.randint(0, 6)}z" if i % 4 else None for i in range(n)],
    )
    return cols


def _categorical_boundary_battery() -> dict[str, pd.Series]:
    """n=200 so the <50-categories bound binds independently of the 0.3
    ratio; values match no email/phone/numeric probe so the reference's
    head(100) probes are irrelevant. 45 vs 60 distinct keeps HLL error
    (rsd 0.05) away from the 50 boundary."""
    n = 200
    cols = {}
    cols["cb_45_distinct"] = pd.Series(
        [f"g{(i * 7) % 45}v" for i in range(n)], dtype=object
    )  # ratio 0.225 <= 0.3, 45 < 50 -> categorical
    cols["cb_60_distinct"] = pd.Series(
        [f"g{(i * 7) % 60}v" for i in range(n)], dtype=object
    )  # ratio 0.3 <= 0.3 BUT 60 >= 50 -> text
    cols["cb_ratio_tie_30"] = pd.Series(
        [f"h{(i * 11) % 60}q" for i in range(n)], dtype=object
    )  # 60/200 = 0.3 tie — but 60 >= 50 -> text either way
    cols["cb_ratio_31"] = pd.Series(
        [f"h{i % 62}q" for i in range(n)], dtype=object
    )  # 62/200 = 0.31 > 0.3 -> text
    return cols


@pytest.mark.parametrize("seed", [101, 202, 303])
def test_inference_tree_differential(spark, seed):
    cols = _inference_battery(seed)
    pdf = pd.DataFrame(cols)
    sdf = spark.createDataFrame(pdf)
    got = infer_types(sdf)
    expected = {name: twin_detect_type(s) for name, s in cols.items()}
    diffs = {c: (got[c], expected[c]) for c in cols if got[c] != expected[c]}
    assert not diffs, f"seed={seed}: {diffs}"


def _probe_divergence_battery() -> dict[str, pd.Series]:
    """200-row columns whose FIRST 100 rows disagree with the full column,
    so probe mode (head(100) ratios, reference semantics) and full-column
    mode provably classify them differently — including the round-5
    digit-string datetime fix inside the probe window."""
    phones = [f"+1 555 {i:04d} {i % 100:02d}" for i in range(100)]
    words = [f"word{i}" for i in range(100)]
    years = ["1999", "2003"] * 50  # dt-parseable digit strings (4-digit year)
    emails = [f"u{i}@ex.com" for i in range(100)]
    return {
        "probe_phone_full_text": pd.Series(phones + words),
        "probe_text_full_mixed": pd.Series(words + phones),
        "probe_email_full_text": pd.Series(emails + words),
        "probe_digit_year_dt": pd.Series(years + words),
        "probe_sparse_nulls": pd.Series([None] * 80 + phones[:20] + words),
    }


@pytest.mark.parametrize("probe_rows", [None, 100])
def test_inference_probe_mode_differential(spark, probe_rows):
    cols = _probe_divergence_battery()
    sdf = spark.createDataFrame(pd.DataFrame(cols)).coalesce(1)
    got = infer_types(sdf, probe_rows=probe_rows)
    expected = {k: twin_detect_type(s, probe_rows=probe_rows) for k, s in cols.items()}
    diffs = {c: (got[c], expected[c]) for c in cols if got[c] != expected[c]}
    assert not diffs, f"probe_rows={probe_rows}: {diffs}"


def test_probe_battery_actually_diverges():
    # guard: the battery must exercise DIFFERENT decisions per mode, or the
    # parametrized test above pins nothing
    cols = _probe_divergence_battery()
    full = {k: twin_detect_type(s) for k, s in cols.items()}
    probed = {k: twin_detect_type(s, probe_rows=100) for k, s in cols.items()}
    assert full != probed
    assert probed["probe_phone_full_text"] == "phone" != full["probe_phone_full_text"]
    assert probed["probe_digit_year_dt"] == "datetime" != full["probe_digit_year_dt"]
    assert probed["probe_sparse_nulls"] == "phone" != full["probe_sparse_nulls"]


def test_inference_categorical_boundaries(spark):
    cols = _categorical_boundary_battery()
    sdf = spark.createDataFrame(pd.DataFrame(cols))
    got = infer_types(sdf)
    expected = {name: twin_detect_type(s) for name, s in cols.items()}
    assert got == expected
    assert expected["cb_45_distinct"] == "categorical"
    assert expected["cb_60_distinct"] == "text"


# ---------------------------------------------------------------------------
# profiler differential
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("seed", [11, 22])
def test_numeric_profile_differential(spark, seed):
    rng = np.random.RandomState(seed)
    batteries = {
        "lognorm": np.round(rng.lognormal(2, 1.5, 400), 4),
        "negatives": np.round(rng.normal(-50, 20, 300), 3),
        "uniform_ints": rng.randint(-1000, 1000, 500).astype(float),
        "constant": np.full(64, 7.25),
        "two_vals": np.array([1.0, 2.0] * 50),
        "tiny": np.array([3.5, -1.25, 9.0]),
    }
    for name, vals in batteries.items():
        df = spark.createDataFrame([(float(v),) for v in vals], "x double")
        prof = column_stats(df, {"x": "float"})["x"]
        twin = twin_numeric_stats(vals.astype(float))
        for k, v in twin.items():
            assert prof[k] == pytest.approx(v, rel=1e-9, abs=1e-9), (name, k)


@pytest.mark.parametrize("seed", [5, 6])
def test_bool_profile_differential(spark, seed):
    rng = np.random.RandomState(seed)
    vocab = ["true", "False", "YES", "no", "1", "0", "y", "N", "t", "f", "junk", None]
    vals = [vocab[i] for i in rng.randint(0, len(vocab), 120)]
    s = pd.Series(vals, dtype=object)
    df = spark.createDataFrame([(v,) for v in vals], "b string")
    prof = column_stats(df, {"b": "boolean"})["b"]
    twin = twin_bool_stats(s)
    for k in ("true_probability", "true_count", "false_count", "n_samples", "format"):
        assert prof[k] == pytest.approx(twin[k]) if k == "true_probability" else prof[k] == twin[k], k


@pytest.mark.parametrize("seed", [13, 14])
def test_cat_profile_differential(spark, seed):
    rng = np.random.RandomState(seed)
    vals = [f"cat{v}" for v in rng.randint(0, 9, 150)]
    df = spark.createDataFrame([(v,) for v in vals], "c string")
    prof = column_stats(df, {"c": "categorical"})["c"]
    vc = pd.Series(vals).value_counts(normalize=True)
    assert prof["n_categories"] == len(vc)
    assert prof["n_samples"] == len(vals)
    # probability multiset matches; per-category share matches exactly
    twin_map = vc.to_dict()
    got_map = dict(zip(prof["categories"], prof["probabilities"]))
    assert set(got_map) == set(twin_map)
    for k in twin_map:
        assert got_map[k] == pytest.approx(twin_map[k], rel=1e-12)
    # most_common agrees whenever the max is unique
    top = vc.index[vc == vc.iloc[0]]
    if len(top) == 1:
        assert prof["most_common"] == top[0]


def test_datetime_profile_differential(spark):
    rng = np.random.RandomState(3)
    base = dt.datetime(2019, 6, 1)
    dates = sorted(
        (base + dt.timedelta(seconds=int(x))).strftime("%Y-%m-%d %H:%M:%S")
        for x in rng.randint(0, 10**8, 200)
    )
    df = spark.createDataFrame([(d,) for d in dates], "d string")
    prof = column_stats(df, {"d": "datetime"})["d"]
    ts = (pd.to_datetime(pd.Series(dates)).astype(np.int64) // 10**9).to_numpy()
    twin = twin_numeric_stats(ts.astype(float))
    for k in ("mean", "std", "median", "min", "max", "q1", "q3"):
        assert prof[k] == pytest.approx(twin[k], rel=1e-12), k
    assert prof["min_date"] == str(pd.to_datetime(pd.Series(dates)).min())
    assert prof["max_date"] == str(pd.to_datetime(pd.Series(dates)).max())
