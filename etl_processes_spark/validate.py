"""validate(profiles, synthetic_df) — re-profile the synthetic frame and diff
against the learned stats, per column (Latanova_v1.py:425-494).

The synthetic frame is re-profiled by ``profile.column_stats``, the function
``profile()`` learned its stats with: one wide agg for all numeric, datetime
and boolean columns, one groupBy for all categorical ones and, with
``exact=True``, one exact-decimal aggregate. Text, email and phone columns
are re-vectorized per column, concurrently with that pass.

Unlike the reference, which only PRINTS errors (:706-710), these results are
returned structured so tests can assert thresholds. Datetime columns are
validated on epoch seconds (epoch days under ``exact``) — the reference's
datetime validation feeds formatted date strings into np.mean and crashes
(UFuncTypeError, Latanova_v1.py:460-463 with :697); documented fix
(SURVEY.md §2.11 Q8).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame

from etl_processes_spark.profile import column_stats
from etl_processes_spark.profile.types import (
    BOOLEAN,
    CATEGORICAL,
    DATETIME,
    EMAIL,
    FLOAT,
    INTEGER,
    PHONE,
    TEXT,
    ColumnProfile,
)

_STATS_TYPES = (INTEGER, FLOAT, DATETIME, BOOLEAN, CATEGORICAL)
_TEXT_TYPES = (TEXT, EMAIL, PHONE)


def validate_text(prof: ColumnProfile, df: DataFrame, c: str) -> dict:
    """Re-vectorize the synthetic text and diff the AVERAGED per-dimension
    moments (Latanova_v1.py:430-454): the reference compares
    np.mean(per-dim mean/std/skew/kurt) of original vs synthetic vectors.
    text_profile's overall_mean/overall_std/asymmetry_avg/excess_avg are
    exactly those averages, so the diff runs on the stored profile — no raw
    vectors are ever collected. Applies to text AND email/phone columns
    (the reference routes all three through the text branch)."""
    from etl_processes_spark.text import text_profile

    s = prof.stats
    if "overall_mean" not in s:
        return {"error": "profile has no text vector stats"}
    synth = text_profile(
        df,
        c,
        vector_size=int(s.get("vector_size", 8)),
        compute_medians=False,  # the reference diff uses mean/std/skew/kurt only
        build_vocab=False,
    )
    if synth is None:
        return {"error": "empty synthetic column"}
    return {
        "mean_error": abs(synth["overall_mean"] - s["overall_mean"]),
        "std_error": abs(synth["overall_std"] - s["overall_std"]),
        "skew_error": abs(synth["asymmetry_avg"] - s["asymmetry_avg"]),
        "kurt_error": abs(synth["excess_avg"] - s["excess_avg"]),
    }


def _compare(prof: ColumnProfile, synth: dict) -> dict:
    """Error dict of one column from its learned and synthetic stats:
    numeric/datetime abs errors of mean/std/median (Latanova_v1.py:455-472),
    boolean true-probability error (:473-484), categorical n_categories error
    and most-common match (:485-493)."""
    t = prof.logical_type
    if not synth.get("n_samples"):
        return {
            "error": "no parseable boolean values" if t == BOOLEAN else "empty synthetic column"
        }
    if t == BOOLEAN:
        return {
            "true_prob_error": abs(
                synth["true_probability"] - prof.stats["true_probability"]
            )
        }
    if t == CATEGORICAL:
        return {
            "n_categories_error": abs(
                synth["n_categories"] - prof.stats["n_categories"]
            ),
            "most_common_match": synth["most_common"] == prof.stats["most_common"],
        }
    return {f"{k}_error": abs(synth[k] - prof.stats[k]) for k in ("mean", "std", "median")}


def _error(e: Exception) -> dict:
    return {"error": f"{type(e).__name__}: {e}"}


def validate(
    profiles: dict[str, ColumnProfile], synthetic: DataFrame, exact: bool = False
) -> dict[str, dict]:
    """{column: error dict}, in ``profiles`` order. A failure is recorded as
    the error entry of the columns it touched; validate never raises for a
    single column. ``exact=True`` re-profiles with exact-decimal moments
    (cross-engine-stable error values; pair with profile(deterministic))."""
    results: dict[str, dict] = {}
    typed: dict[str, str] = {}
    text: dict[str, ColumnProfile] = {}
    for c, prof in profiles.items():
        t = prof.logical_type
        if c not in synthetic.columns:
            results[c] = {"error": "column missing from synthetic frame"}
        elif t in _STATS_TYPES:
            typed[c] = t
        elif t in _TEXT_TYPES:
            text[c] = prof
        else:
            results[c] = {"skipped": t}
    # the text re-profiles are several small jobs per column: submit them
    # first so they overlap the shared stats pass on this thread
    with ThreadPoolExecutor(max_workers=max(1, min(4, len(text)))) as ex:
        futures = {c: ex.submit(validate_text, p, synthetic, c) for c, p in text.items()}
        try:
            synth = column_stats(synthetic, typed, exact)
        except Exception as e:
            results.update({c: _error(e) for c in typed})
        else:
            for c in typed:
                try:
                    results[c] = _compare(profiles[c], synth[c])
                except Exception as e:
                    results[c] = _error(e)
        for c, f in futures.items():
            try:
                results[c] = f.result()
            except Exception as e:
                results[c] = _error(e)
    return {c: results[c] for c in profiles}


__all__ = ["validate", "validate_text"]
