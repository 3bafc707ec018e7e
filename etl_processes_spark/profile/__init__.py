"""profile(df) → dict[str, ColumnProfile] — EP2 of the reference lifecycle
(Latanova_v1.py:630-677), Spark-shaped:

  Stage 1 (one scan): ALL type-inference predicates for ALL columns in a
    single agg() — Catalyst collapses the conditional aggregates into one
    whole-stage-codegen pass with map-side partial aggregation.
  Stage 2 (driver): the reference's decision tree per column.
  Stage 3 (one scan): numeric + datetime + boolean stats for ALL typed
    columns in a second single agg(); ALL categorical columns share one
    exploded (col, category) groupBy (bounded: <50 categories each by
    definition).
  Stage 4: email/phone/text columns retain their (sample-bounded) raw
    entries for bootstrap generation / embedding modeling — bounded by
    ``sample_rows``, never the full table — and get their embedding
    profiles (text_profile, run concurrently across columns). Datetime
    columns each add a date-format detection pass.

Scale policy: like the reference (SAMPLE_SIZE = min(1000, n), seed 42,
Latanova_v1.py:632-633), profiling runs on a seeded sample, so cost is
O(sample) regardless of input size. Set ``sample_rows=None`` to profile the
full frame (all aggregates have partial forms; still one scan per stage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_processes_spark.profile.infer import (
    datetime_parse,
    decide_type,
    infer_types,
    inference_metrics,
)
from etl_processes_spark.profile.profilers import (
    bool_format_from_counts,
    bool_profile,
    bool_profile_df,
    bool_profile_exprs,
    cat_profile,
    cat_profile_df,
    datetime_profile,
    datetime_profile_df,
    detect_date_format,
    numeric_profile,
    numeric_profile_df,
    numeric_profile_exprs,
    round_floats,
    ts_expr,
)
from etl_processes_spark.profile.types import (
    BOOL_FORMATS,
    BOOLEAN,
    CATEGORICAL,
    DATETIME,
    EMAIL,
    FLOAT,
    INTEGER,
    PHONE,
    TEXT,
    UNKNOWN,
    ColumnProfile,
)

DEFAULT_SAMPLE_ROWS = 1000  # Latanova_v1.py:632
DEFAULT_SEED = 42           # Latanova_v1.py:633


def sample_frame(
    df: DataFrame,
    sample_rows: int | None,
    seed: int = DEFAULT_SEED,
    mode: str = "bernoulli",
    key: str | None = None,
) -> DataFrame:
    """Seeded uniform sample of ~``sample_rows`` rows.

    mode="bernoulli" (default): reference-parity df.sample — one scan, no
    shuffle, but partition-order dependent (NOT reproducible across engines
    or repartitionings).

    mode="hash": the smallest ``sample_rows`` rows by md5(key || ':' || seed)
    — a deterministic uniform sample that depends only on (key values, seed):
    reproducible under any partitioning AND computable identically by the
    DuckDB oracle. A top-n by hash is a TakeOrdered (per-partition heap +
    driver merge of n rows), not a full sort — still one scan at scale.
    Requires ``key`` (a unique column)."""
    if sample_rows is None:
        return df
    if mode == "hash":
        if key is None:
            raise ValueError("sample_frame(mode='hash') requires a key column")
        rank = F.md5(F.concat(F.col(key).cast("string"), F.lit(f":{seed}")))
        return df.orderBy(rank, F.col(key)).limit(sample_rows)
    n = df.count()
    if n <= sample_rows:
        return df
    fraction = min(1.0, sample_rows * 1.2 / n)
    return df.sample(withReplacement=False, fraction=fraction, seed=seed).limit(sample_rows)


def profile(
    df: DataFrame,
    sample_rows: int | None = DEFAULT_SAMPLE_ROWS,
    seed: int = DEFAULT_SEED,
    drop_null_rows: bool = True,
    max_retained_entries: int = 10000,
    text_stats: bool = True,
    text_vector_size: int | None = None,
    deterministic: bool = False,
    sample_key: str | None = None,
) -> dict[str, ColumnProfile]:
    """``deterministic=True`` (requires ``sample_key``, a unique column)
    makes the whole profile→generate round-trip bit-reproducible across
    engines/partitionings: hash-ranked sampling, value-ordered retained
    entries, and exact-decimal power-sum moments for integer/datetime (and
    cents-valued float) columns instead of order-dependent double sums.
    This is what lets the full synthetic pipeline be hash-gated against the
    DuckDB oracle; the default mode keeps reference-parity Bernoulli
    sampling."""
    if drop_null_rows:
        df = df.na.drop("any")  # Latanova_v1.py:14
    frame = sample_frame(
        df,
        sample_rows,
        seed,
        mode="hash" if deterministic else "bernoulli",
        key=sample_key,
    )
    # Full-frame mode only: widen AFTER sampling (selection is over the
    # original partitioning) so the ~dozen profile jobs parallelize when the
    # source is a one-row-group file. Sample-bounded frames stay narrow on
    # purpose — 32 tasks per tiny job is pure scheduling overhead for
    # ≤sample_rows rows.
    if sample_rows is None:
        from etl_processes_spark.partitioning import widen

        frame = widen(frame)
    frame = frame.persist()
    try:
        types = infer_types(frame)
        schema = {f.name: f.dataType for f in frame.schema.fields}

        # Stage 3: one wide agg for every numeric/datetime/boolean column.
        exprs = []
        for c, t in types.items():
            p = f"{c}__"
            if t in (INTEGER, FLOAT):
                exprs.extend(numeric_profile_exprs(F.col(c), prefix=p))
            elif t == DATETIME:
                ts = ts_expr(frame, c)
                exprs.extend(
                    numeric_profile_exprs(
                        F.floor(ts.cast("double")).cast("long").cast("double"),
                        prefix=p,
                    )
                )
                exprs.append(
                    F.date_format(F.min(ts), "yyyy-MM-dd HH:mm:ss").alias(f"{p}min_date")
                )
                exprs.append(
                    F.date_format(F.max(ts), "yyyy-MM-dd HH:mm:ss").alias(f"{p}max_date")
                )
            elif t == BOOLEAN:
                exprs.extend(
                    bool_profile_exprs(
                        c, isinstance(schema[c], T.BooleanType), prefix=p
                    )
                )
        wide = frame.agg(*exprs).collect()[0].asDict() if exprs else {}

        # Deterministic mode: replace the order-dependent double-sum moments
        # with exact decimal power sums (bit-stable across engines and
        # partitionings; see numeric_profile_exact_df). Integer columns
        # scale by 1, datetimes by epoch-days, floats by cents. Columns the
        # exact profiler can't represent keep their double moments: floats
        # with >2 decimal places (cents-rounding would corrupt them) and
        # integers outside ±1e9 (the decimal(9,0) domain) — the override is
        # guarded, never assumed. Per-column exact jobs run concurrently on
        # the persisted sample (same pattern as the text profiles).
        if deterministic:
            from concurrent.futures import ThreadPoolExecutor

            from etl_processes_spark.profile.profilers import numeric_profile_exact_df

            def _exact_row(c: str, t: str):
                if t == INTEGER:
                    y, mult = F.col(c), 1.0
                elif t == FLOAT:
                    y, mult = F.round(F.col(c) * 100, 0), 0.01
                else:  # DATETIME: epoch days — always within decimal(9,0)
                    y = F.floor(ts_expr(frame, c).cast("double") / 86400)
                    mult = 86400.0
                nn = frame.filter(F.col(c).isNotNull())
                if t in (INTEGER, FLOAT):
                    guard = nn.agg(
                        F.max(F.abs(y)).alias("mx"),
                        F.max(F.abs(F.col(c) * 100 - F.round(F.col(c) * 100, 0))).alias(
                            "frac"
                        ),
                        F.max(F.abs(F.col(c) - F.round(F.col(c), 0))).alias("ifrac"),
                        F.count(F.lit(1)).alias("n"),
                    ).collect()[0]
                    if guard["mx"] is None or float(guard["mx"]) >= 1e9:
                        return None  # out of exact-decimal range
                    # Σy⁴ must fit decimal(38,0): with ANSI off an overflow
                    # is a silent NULL (kurt would come back None), with
                    # ANSI on it throws — refuse the exact path up front
                    if float(guard["mx"]) ** 4 * int(guard["n"]) >= 9e37:
                        return None
                    # tolerance: a 2dp value stored as double leaves ~1e-9
                    # representation noise in c*100 (4755.8*100 =
                    # 475579.99999...); only genuine >2dp data (frac >= 0.1
                    # after cents scaling) must keep double moments
                    if t == FLOAT and float(guard["frac"] or 0.0) > 1e-6:
                        return None  # >2dp values: cents scaling would corrupt
                    # INTEGER-typed columns can still hold fractional values
                    # (int_ratio >= 0.95 admits 5% non-integers) — the
                    # decimal(9,0) cast would silently ROUND them, changing
                    # the stats; same 'ifrac' guard validate.py uses
                    if t == INTEGER and float(guard["ifrac"] or 0.0) > 1e-6:
                        return None
                return numeric_profile_exact_df(nn, y, out_mult=mult).collect()[0]

            todo_exact = {
                c: t for c, t in types.items() if t in (INTEGER, FLOAT, DATETIME)
            }
            if todo_exact:
                with ThreadPoolExecutor(max_workers=min(4, len(todo_exact))) as ex:
                    futs = {
                        c: ex.submit(_exact_row, c, t) for c, t in todo_exact.items()
                    }
                    for c, fut in futs.items():
                        row = fut.result()
                        if row is None:
                            continue
                        p = f"{c}__"
                        # sanity backstop against the exact path's two known
                        # numeric hazards (decimal overflow → NULL; m2 =
                        # s2/n - m² catastrophic cancellation when |mean| >>
                        # std): any NULL stat, or mean/std disagreeing with
                        # the stage-3 double moments beyond low-order-bit
                        # noise, keeps the double values instead. For data
                        # the exact path was built for, both paths agree to
                        # ~1e-9 relative, so this never fires there.
                        keys = ("mean", "std", "median", "min_val", "max_val",
                                "skew", "kurt", "q1", "q3")
                        if any(row[k] is None for k in keys):
                            continue

                        def _far(a, b):
                            if a is None or b is None:
                                return False
                            return abs(a - b) > 1e-4 * max(abs(a), abs(b), 1.0)

                        # (DATETIME is exempt: its exact path day-truncates,
                        # so it differs from the stage-3 epoch-second
                        # moments by construction, not by error)
                        if todo_exact[c] in (INTEGER, FLOAT) and (
                            _far(row["mean"], wide.get(f"{p}mean"))
                            or _far(row["std"], wide.get(f"{p}std"))
                        ):
                            continue
                        for k in keys:
                            wide[f"{p}{k}"] = row[k]

        # ALL categorical columns profile in ONE exploded groupBy (one
        # shuffle total, not one per column — in full-frame mode each
        # per-column groupBy would be its own pass over the table). The
        # result rows are split per column driver-side with the same
        # (count desc, value asc) ordering and cnt/total probabilities
        # cat_profile computes; outputs are bounded (<50 categories per
        # column by the inference definition).
        cat_stats: dict[str, dict | None] = {}
        cat_cols = [c for c, t in types.items() if t == CATEGORICAL]
        if cat_cols:
            entries = F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col"),
                        F.col(c).cast("string").alias("category"),
                    )
                    for c in cat_cols
                ]
            )
            counted = (
                frame.select(F.explode(entries).alias("e"))
                .select("e.col", "e.category")
                .filter(F.col("category").isNotNull())
                .groupBy("col", "category")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .collect()
            )
            by_col: dict[str, list] = {c: [] for c in cat_cols}
            for r in counted:
                by_col[r["col"]].append((r["category"], int(r["cnt"])))
            for c in cat_cols:
                rows_c = sorted(by_col[c], key=lambda t: (-t[1], t[0]))
                if not rows_c:
                    cat_stats[c] = None
                    continue
                total = sum(cnt for _, cnt in rows_c)
                cats = [v for v, _ in rows_c]
                probs = [cnt / total for _, cnt in rows_c]
                cat_stats[c] = {
                    "n_categories": len(rows_c),
                    "categories": cats,
                    "probabilities": probs,
                    "most_common": cats[0],
                    "most_common_prob": probs[0],
                    "n_samples": total,
                }

        # Text-ish columns' embedding profiles run CONCURRENTLY (Spark's
        # scheduler interleaves the per-column jobs; each is several small
        # stages, so wall-clock is otherwise job-count bound, not data
        # bound). The reference profiles text/email/phone via
        # calculate_text_statistics (Latanova_v1.py:640-641).
        text_profiles: dict[str, dict | None] = {}
        text_cols = [c for c, t in types.items() if t in (EMAIL, PHONE, TEXT)]
        if text_stats and text_cols:
            from concurrent.futures import ThreadPoolExecutor

            from etl_processes_spark.text import text_profile as _tp
            from etl_processes_spark.text.embedding import VECTOR_SIZE

            vs = text_vector_size or VECTOR_SIZE
            with ThreadPoolExecutor(max_workers=min(4, len(text_cols))) as ex:
                futures = {c: ex.submit(_tp, frame, c, vs) for c in text_cols}
                text_profiles = {c: f.result() for c, f in futures.items()}

        profiles: dict[str, ColumnProfile] = {}
        for c, t in types.items():
            p = f"{c}__"
            if t in (INTEGER, FLOAT):
                stats = {
                    "mean": wide[f"{p}mean"], "std": wide[f"{p}std"],
                    "median": wide[f"{p}median"], "min": wide[f"{p}min_val"],
                    "max": wide[f"{p}max_val"], "skew": wide[f"{p}skew"],
                    "kurtosis": wide[f"{p}kurt"], "q1": wide[f"{p}q1"],
                    "q3": wide[f"{p}q3"], "n_samples": wide[f"{p}n_samples"],
                }
                profiles[c] = ColumnProfile(c, t, None, stats)
            elif t == DATETIME:
                stats = {
                    "mean": wide[f"{p}mean"], "std": wide[f"{p}std"],
                    "median": wide[f"{p}median"], "min": wide[f"{p}min_val"],
                    "max": wide[f"{p}max_val"], "skew": wide[f"{p}skew"],
                    "kurtosis": wide[f"{p}kurt"], "q1": wide[f"{p}q1"],
                    "q3": wide[f"{p}q3"], "n_samples": wide[f"{p}n_samples"],
                    "min_date": wide[f"{p}min_date"], "max_date": wide[f"{p}max_date"],
                }
                fmt = detect_date_format(frame, c)
                stats["date_format"] = fmt
                profiles[c] = ColumnProfile(c, t, fmt, stats)
            elif t == BOOLEAN:
                counts = {f: wide[f"{p}cnt_{f}"] for f in BOOL_FORMATS}
                fmt = bool_format_from_counts(counts)
                stats = {
                    "true_probability": float(wide[f"{p}true_probability"] or 0.0),
                    "true_count": int(wide[f"{p}true_count"] or 0),
                    "false_count": int(wide[f"{p}false_count"] or 0),
                    "n_samples": int(wide[f"{p}n_samples"] or 0),
                    "format": fmt,
                }
                profiles[c] = ColumnProfile(c, t, fmt, stats)
            elif t == CATEGORICAL:
                profiles[c] = ColumnProfile(c, t, None, cat_stats.get(c) or {})
            elif t in (EMAIL, PHONE, TEXT):
                # Retain sample-bounded raw entries: bootstrap source for
                # email/phone (Latanova_v1.py:307-309) and embedding-model
                # input for text (:640-641). Bounded — never the full column.
                # Deterministic mode orders by value so the entry list (and
                # therefore bootstrap output) is engine-independent.
                ent = frame.select(F.col(c).cast("string").alias("v")).filter(
                    F.col("v").isNotNull()
                )
                if deterministic:
                    ent = ent.orderBy("v")
                entries = [r[0] for r in ent.limit(max_retained_entries).collect()]
                stats = {"raw_entries": entries, "n_samples": len(entries)}
                tp = text_profiles.get(c)
                if tp:
                    # the embedding moments were fit over the FULL column —
                    # keep text_profile's own n_samples (overwriting it with
                    # the capped retained-entry count misreports the MVN
                    # fit size whenever rows > max_retained_entries); the
                    # retained count stays available as n_retained
                    stats["n_retained"] = len(entries)
                    stats.update(dict(tp))
                profiles[c] = ColumnProfile(c, t, t if t in (EMAIL, PHONE) else None, stats)
            else:
                profiles[c] = ColumnProfile(c, UNKNOWN, None, {})
        return profiles
    finally:
        frame.unpersist()


__all__ = [
    "ColumnProfile",
    "profile",
    "infer_types",
    "inference_metrics",
    "decide_type",
    "sample_frame",
    "numeric_profile",
    "numeric_profile_df",
    "numeric_profile_exprs",
    "bool_profile",
    "bool_profile_df",
    "bool_profile_exprs",
    "bool_format_from_counts",
    "cat_profile",
    "cat_profile_df",
    "datetime_profile",
    "datetime_profile_df",
    "detect_date_format",
    "round_floats",
]
