"""profile(df) → dict[str, ColumnProfile] — EP2 of the reference lifecycle
(Latanova_v1.py:630-677), Spark-shaped:

  Stage 1 (one scan): ALL type-inference predicates for ALL columns in a
    single agg() — Catalyst collapses the conditional aggregates into one
    whole-stage-codegen pass with map-side partial aggregation.
  Stage 2 (driver): the reference's decision tree per column.
  Stage 3 (``column_stats``): numeric + datetime + boolean stats for ALL
    typed columns in one wide agg(); ALL categorical columns share one
    exploded (col, category) groupBy (bounded: <50 categories each by
    definition). ``validate()`` re-profiles the synthetic frame through the
    same function, so learned and synthetic stats come from one code path.
  Stage 4: datetime columns each add a date-format detection pass.
  Stage 5 (``_text_column_stats``): the email/phone/text columns of the
    sample cross to the driver in ONE Arrow collect, which is both their
    retained raw entries (bootstrap source / embedding-model input, bounded
    by ``sample_rows``, never the full table) and the hand-off to the
    driver-side embedding profile (text.embedding.text_profile_local; only
    its vocabulary groupBy runs in Spark). A sample larger than
    ``text.embedding.DRIVER_MAX_ROWS`` keeps a bounded collect per column
    and the distributed text_profile.

Exact mode (``deterministic=True``): the integer/float columns' exact-decimal
guards ride in the stage-3 wide agg, and every column that passes them, plus
every datetime column (in epoch days), gets its moments from ONE
``numeric_profile_exact_multi_df`` aggregate.

Scale policy: like the reference (SAMPLE_SIZE = min(1000, n), seed 42,
Latanova_v1.py:632-633), profiling runs on a seeded sample, so cost is
O(sample) regardless of input size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
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
    bool_profile_df,
    bool_profile_exprs,
    cat_profile_df,
    detect_date_format,
    numeric_profile_df,
    numeric_profile_exact_multi_df,
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
    sample_rows: int,
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


# stats key -> numeric_profile_exprs / numeric_profile_exact_multi_df column
_NUMERIC_KEYS = {
    "mean": "mean", "std": "std", "median": "median", "min": "min_val",
    "max": "max_val", "skew": "skew", "kurtosis": "kurt", "q1": "q1",
    "q3": "q3", "n_samples": "n_samples",
}


def _far(a, b) -> bool:
    return a is not None and b is not None and abs(a - b) > 1e-4 * max(abs(a), abs(b), 1.0)


def column_stats(
    frame: DataFrame, types: dict[str, str], exact: bool = False
) -> dict[str, dict]:
    """Per-type statistics of ``frame``'s integer, float, datetime, boolean
    and categorical columns (``types``: column → logical type; other types
    are skipped), keyed as ``profile()`` stores them. Empty columns report
    ``n_samples`` 0 (categorical: ``{}``).

    One wide agg covers every numeric/datetime/boolean column and one
    exploded groupBy every categorical column, whatever the column count.

    ``exact=True`` replaces the order-dependent double-sum moments with exact
    decimal power sums (bit-stable across engines and partitionings; see
    numeric_profile_exact_df): integers scale by 1, floats by cents,
    datetimes by epoch days. Integer/float columns the exact path cannot
    represent keep their double moments; the guards for that ride in the wide
    agg: |y| < 1e9 (the decimal(9,0) domain), Σy⁴ within decimal(38,0), and
    no fractional part the scaling would round away (>2dp floats, integer
    columns holding a few non-integers). The passing columns then share ONE
    exact aggregate."""
    schema = {f.name: f.dataType for f in frame.schema.fields}
    exprs: list[Column] = []
    exact_specs: dict[str, tuple[Column, float]] = {}
    for c, t in types.items():
        p = f"{c}__"
        if t in (INTEGER, FLOAT):
            exprs.extend(numeric_profile_exprs(F.col(c), prefix=p))
            if exact:
                if t == INTEGER:
                    y, mult, unit = F.col(c), 1.0, F.col(c)
                else:
                    y, mult, unit = F.round(F.col(c) * 100, 0), 0.01, F.col(c) * 100
                exact_specs[c] = (y, mult)
                exprs += [
                    F.max(F.abs(y)).alias(f"{p}mx"),
                    # a 2dp value stored as double leaves ~1e-9 noise in
                    # c*100 (4755.8*100 = 475579.99999...); only genuine
                    # fractions of the scaled unit reach the 1e-6 tolerance
                    F.max(F.abs(unit - F.round(unit, 0))).alias(f"{p}frac"),
                    F.count(F.col(c)).alias(f"{p}n"),
                ]
        elif t == DATETIME:
            ts = ts_expr(frame, c)
            exprs.extend(
                numeric_profile_exprs(
                    F.floor(ts.cast("double")).cast("long").cast("double"), prefix=p
                )
            )
            exprs.append(F.date_format(F.min(ts), "yyyy-MM-dd HH:mm:ss").alias(f"{p}min_date"))
            exprs.append(F.date_format(F.max(ts), "yyyy-MM-dd HH:mm:ss").alias(f"{p}max_date"))
            if exact:  # epoch days: always within decimal(9,0)
                exact_specs[c] = (F.floor(ts.cast("double") / 86400), 86400.0)
        elif t == BOOLEAN:
            exprs.extend(
                bool_profile_exprs(c, isinstance(schema[c], T.BooleanType), prefix=p)
            )
    wide = frame.agg(*exprs).collect()[0].asDict() if exprs else {}

    stats: dict[str, dict] = {}
    for c, t in types.items():
        p = f"{c}__"
        if t in (INTEGER, FLOAT, DATETIME):
            stats[c] = {k: wide[f"{p}{v}"] for k, v in _NUMERIC_KEYS.items()}
            if t == DATETIME:
                stats[c]["min_date"] = wide[f"{p}min_date"]
                stats[c]["max_date"] = wide[f"{p}max_date"]
        elif t == BOOLEAN:
            counts = {f: wide[f"{p}cnt_{f}"] for f in BOOL_FORMATS}
            stats[c] = {
                "true_probability": float(wide[f"{p}true_probability"] or 0.0),
                "true_count": int(wide[f"{p}true_count"] or 0),
                "false_count": int(wide[f"{p}false_count"] or 0),
                "n_samples": int(wide[f"{p}n_samples"] or 0),
                "format": bool_format_from_counts(counts),
            }

    def _exact_ok(c: str) -> bool:
        if types[c] == DATETIME:
            return True
        p = f"{c}__"
        mx = wide[f"{p}mx"]
        return (
            mx is not None
            and float(mx) < 1e9
            # Σy⁴ must fit decimal(38,0): with ANSI off an overflow is a
            # silent NULL, with ANSI on it throws
            and float(mx) ** 4 * int(wide[f"{p}n"]) < 9e37
            and float(wide[f"{p}frac"] or 0.0) <= 1e-6
        )

    specs = [(c, y, mult) for c, (y, mult) in exact_specs.items() if _exact_ok(c)]
    if specs:
        for row in numeric_profile_exact_multi_df(frame, specs).collect():
            c = row["col_name"]
            exact_stats = {k: row[v] for k, v in _NUMERIC_KEYS.items() if k != "n_samples"}
            # backstop against the exact path's numeric hazards (decimal
            # overflow → NULL; m2 = s2/n - m² cancellation when |mean| >>
            # std): a NULL stat, or an integer/float mean/std off the double
            # moments beyond low-order-bit noise, keeps the double values.
            # Datetimes are exempt: their exact path day-truncates, so they
            # differ from the epoch-second moments by construction.
            if any(v is None for v in exact_stats.values()):
                continue
            if types[c] != DATETIME and (
                _far(exact_stats["mean"], stats[c]["mean"])
                or _far(exact_stats["std"], stats[c]["std"])
            ):
                continue
            stats[c].update(exact_stats)

    # ONE exploded groupBy for all categorical columns (one shuffle, not one
    # per column), split per column driver-side in (count desc, value asc)
    # order with cnt/total probabilities, as cat_profile_df orders them
    cat_cols = [c for c, t in types.items() if t == CATEGORICAL]
    if cat_cols:
        entries = F.array(
            *[
                F.struct(F.lit(c).alias("col"), F.col(c).cast("string").alias("category"))
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
                stats[c] = {}
                continue
            total = sum(cnt for _, cnt in rows_c)
            cats = [v for v, _ in rows_c]
            probs = [cnt / total for _, cnt in rows_c]
            stats[c] = {
                "n_categories": len(rows_c),
                "categories": cats,
                "probabilities": probs,
                "most_common": cats[0],
                "most_common_prob": probs[0],
                "n_samples": total,
            }
    return stats


def _text_column_stats(
    frame: DataFrame,
    cols: list[str],
    sample_rows: int,
    max_retained_entries: int,
    text_stats: bool,
    deterministic: bool,
) -> dict[str, dict]:
    """Stats of the email/phone/text columns of the persisted sample: the
    retained raw entries (bootstrap source for email/phone,
    Latanova_v1.py:307-309, and embedding-model input for text, :640-641),
    plus, with ``text_stats``, the embedding profile of each column (the
    reference profiles all three via calculate_text_statistics, :640-641).
    Deterministic mode orders the entries by value, so the entry list (and
    therefore bootstrap output) is engine-independent.

    A sample of at most ``text.embedding.DRIVER_MAX_ROWS`` rows (the sample
    holds at most ``sample_rows``) crosses to the driver in ONE Arrow
    collect of all these columns: that collect is both the retained entries
    and the hand-off to text_profile_local, so no column is counted or
    collected again. A larger sample keeps a bounded entry collect per
    column and the distributed text_profile. The per-column profiles run
    concurrently: each ends in a Spark job (the vocabulary groupBy), and
    the scheduler interleaves them."""
    from concurrent.futures import ThreadPoolExecutor

    from etl_processes_spark.text import embedding

    if not cols:
        return {}
    if sample_rows <= embedding.DRIVER_MAX_ROWS:
        pdf = frame.select(*[F.col(c).cast("string").alias(c) for c in cols]).toPandas()
        texts = {c: pdf[c].dropna() for c in cols}
        entries = {
            c: (sorted(v) if deterministic else v.tolist())[:max_retained_entries]
            for c, v in texts.items()
        }

        def text_prof(c):
            return embedding.text_profile_local(texts[c], frame, c)

    else:
        entries = {}
        for c in cols:
            ent = frame.select(F.col(c).cast("string").alias("v")).filter(
                F.col("v").isNotNull()
            )
            if deterministic:
                ent = ent.orderBy("v")
            entries[c] = [r[0] for r in ent.limit(max_retained_entries).collect()]

        def text_prof(c):
            return embedding.text_profile(frame, c)

    text_profiles: dict[str, dict | None] = {}
    if text_stats:
        with ThreadPoolExecutor(max_workers=min(4, len(cols))) as ex:
            futures = {c: ex.submit(text_prof, c) for c in cols}
            text_profiles = {c: f.result() for c, f in futures.items()}
    out = {}
    for c in cols:
        stats = {"raw_entries": entries[c], "n_samples": len(entries[c])}
        tp = text_profiles.get(c)
        if tp:
            # the embedding moments were fit over the WHOLE sample column —
            # keep text_profile's own n_samples (the capped retained-entry
            # count would misreport the MVN fit size whenever rows >
            # max_retained_entries); the retained count stays as n_retained
            stats["n_retained"] = len(entries[c])
            stats.update(dict(tp))
        out[c] = stats
    return out


def profile(
    df: DataFrame,
    sample_rows: int = DEFAULT_SAMPLE_ROWS,
    seed: int = DEFAULT_SEED,
    max_retained_entries: int = 10000,
    text_stats: bool = True,
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
    df = df.na.drop("any")  # Latanova_v1.py:14
    frame = sample_frame(
        df,
        sample_rows,
        seed,
        mode="hash" if deterministic else "bernoulli",
        key=sample_key,
    )
    frame = frame.persist()
    try:
        types = infer_types(frame)
        col_stats = column_stats(frame, types, exact=deterministic)

        text_cols = [c for c, t in types.items() if t in (EMAIL, PHONE, TEXT)]
        text_col_stats = _text_column_stats(
            frame, text_cols, sample_rows, max_retained_entries, text_stats, deterministic
        )

        profiles: dict[str, ColumnProfile] = {}
        for c, t in types.items():
            if t in (INTEGER, FLOAT, CATEGORICAL):
                profiles[c] = ColumnProfile(c, t, None, col_stats[c])
            elif t == DATETIME:
                fmt = detect_date_format(frame, c)
                col_stats[c]["date_format"] = fmt
                profiles[c] = ColumnProfile(c, t, fmt, col_stats[c])
            elif t == BOOLEAN:
                profiles[c] = ColumnProfile(c, t, col_stats[c]["format"], col_stats[c])
            elif t in (EMAIL, PHONE, TEXT):
                profiles[c] = ColumnProfile(
                    c, t, t if t in (EMAIL, PHONE) else None, text_col_stats[c]
                )
            else:
                profiles[c] = ColumnProfile(c, UNKNOWN, None, {})
        return profiles
    finally:
        frame.unpersist()


__all__ = [
    "ColumnProfile",
    "profile",
    "column_stats",
    "infer_types",
    "inference_metrics",
    "decide_type",
    "sample_frame",
    "numeric_profile_df",
    "numeric_profile_exprs",
    "bool_profile_df",
    "bool_profile_exprs",
    "bool_format_from_counts",
    "cat_profile_df",
    "detect_date_format",
    "round_floats",
]
