"""Logical-type inference — the reference's decision tree, Spark-first.

Reference: detect_column_type (Latanova_v1.py:124-170), detect_special_format
(:64-86), detect_boolean_format (:89-121).

Design: ALL predicate metrics for ALL columns are computed in ONE wide
``agg()`` (a single scan; Catalyst collapses the dozens of conditional
aggregates into one whole-stage-codegen pass with partial aggregation, so at
100 TB this is one map-side-combined job, no shuffle beyond the final
single-row reduce). The decision tree itself runs driver-side on the one
collected row, preserving the reference's exact predicate ORDER and
thresholds (SURVEY.md §2.11 Q1): boolean-vocab before email/phone before
numeric before datetime before categorical.

Divergence (documented, SURVEY.md §2.11 Q6): the reference probes the first
100 rows for email/phone/datetime detection, relying on pandas row order.
Spark has no stable row order, so our predicates are full-column ratios over
the (optionally seeded-sampled) input — deterministic and strictly more
robust; thresholds are unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_processes_spark.profile.types import (
    BOOL_VOCAB,
    BOOLEAN,
    CATEGORICAL,
    DATETIME,
    DATETIME_THRESHOLD,
    EMAIL,
    EMAIL_PHONE_THRESHOLD,
    FLOAT,
    INT_RATIO_THRESHOLD,
    INTEGER,
    MAX_CATEGORIES,
    NUMERIC_THRESHOLD,
    PHONE,
    TEXT,
    UNIQUE_THRESHOLD,
    UNKNOWN,
)

# ---------------------------------------------------------------------------
# Scalar predicate expressions (each mirrors one reference heuristic; they are
# reused verbatim by the standalone oracle-checked queries in __spark_entry__).
# ---------------------------------------------------------------------------


def _s(c: str | Column) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return F.trim(col.cast("string"))


def email_pred(c: str | Column) -> Column:
    """'@' in v and '.' in v.split('@')[-1]  (Latanova_v1.py:74)."""
    s = _s(c)
    return s.contains("@") & F.substring_index(s, "@", -1).contains(".")


def phone_pred(c: str | Column) -> Column:
    """7 <= len(digits-only) <= 15  (Latanova_v1.py:81-82)."""
    digits = F.regexp_replace(_s(c), r"\D", "")
    return F.length(digits).between(7, 15)


def numeric_pred(c: str | Column) -> Column:
    """Value parseable as a number (pd.to_numeric errors='coerce', :149)."""
    return _s(c).try_cast("double").isNotNull()


def integral_pred(c: str | Column) -> Column:
    """float(v).is_integer() (Latanova_v1.py:145) — null for non-numeric."""
    d = _s(c).try_cast("double")
    return F.when(d.isNotNull(), d == F.floor(d))


def datetime_parse(c: str | Column) -> Column:
    """Best-effort datetime parse over the formats the reference renders
    (ISO timestamp / YYYY-MM-DD / MM/DD/YYYY / DD-MM-YYYY; Latanova_v1.py:163,
    286-291). Null when unparseable — mirrors pd.to_datetime(errors='coerce'),
    including its digit-string behavior: pandas accepts a bare 4-digit year
    only within Timestamp bounds (1678..2262) and an 8-digit YYYYMMDD date,
    and REJECTS every other all-digit string — where Spark's bare
    try_to_timestamp would happily parse '12345' as the year 12345 (found
    by differential fuzzing: an 89%-numeric string column must fall through
    to categorical/text, not become 'datetime')."""
    s = _s(c)
    digit_only = s.rlike("^[0-9]+$")
    year4 = (F.length(s) == 4) & s.try_cast("int").between(1678, 2262)
    ymd8 = (F.length(s) == 8) & F.try_to_timestamp(s, F.lit("yyyyMMdd")).isNotNull()
    lenient = F.coalesce(
        F.try_to_timestamp(s),
        F.try_to_timestamp(s, F.lit("yyyy-MM-dd")),
        F.try_to_timestamp(s, F.lit("MM/dd/yyyy")),
        F.try_to_timestamp(s, F.lit("dd-MM-yyyy")),
    )
    return (
        F.when(digit_only & year4, F.try_to_timestamp(s, F.lit("yyyy")))
        .when(digit_only & ymd8, F.try_to_timestamp(s, F.lit("yyyyMMdd")))
        .when(~digit_only, lenient)
    )


def bool_lower(c: str | Column) -> Column:
    """str(v).strip().lower() as used by every boolean heuristic (:133, :237)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.lower(F.trim(col.cast("string")))


# ---------------------------------------------------------------------------
# One-pass metric computation + driver-side decision tree
# ---------------------------------------------------------------------------

_METRICS = (
    "n", "n_distinct_lower", "outside_bool_vocab", "email_ratio", "phone_ratio",
    "numeric_ratio", "int_ratio", "datetime_ratio", "n_distinct_trim",
)


def _ratio(pred: Column) -> Column:
    """avg over rows where ``pred`` is non-null: three-valued — true → 1,
    false → 0, NULL → excluded from the denominator. A plain
    ``otherwise(0.0)`` would count null rows as non-matches, diluting every
    ratio on null-bearing columns (the reference computes ratios on
    dropna'd series; the DuckDB oracle filters IS NOT NULL)."""
    return F.avg(F.when(pred, 1.0).when(pred.isNotNull(), 0.0))


def inference_metric_exprs(
    c: str, dtype: T.DataType | None = None, include_probe: bool = True
) -> list[Column]:
    """The per-column aggregate expressions; aliased ``{col}__{metric}``.

    Passing the column's Spark type prunes every predicate whose outcome the
    decision tree either derives from the dtype or never reads for that
    dtype (e.g. numeric columns never reach the datetime probe; LongType is
    integral by construction). The pruned constants are re-injected in
    inference_metrics — same decision, ~40% fewer aggregate expressions,
    which matters because this agg's cost is codegen-compile-bound, not
    data-bound, at profile-sample scale."""
    col = F.col(c)
    lower = bool_lower(c)
    nn = col.isNotNull()
    numeric = numeric_pred(c)
    integral = integral_pred(c)
    exprs = [F.count(col).alias(f"{c}__n")]
    if isinstance(dtype, T.BooleanType):
        return exprs  # decision exits at the dtype check (Latanova_v1.py:131)
    # approx_count_distinct, not count_distinct: N distinct aggregates in one
    # agg() force an Expand plan (input ×(N+1), codegen blow-up — measured
    # 527s vs 2s on this harness). HLL++ is a regular partial aggregate (one
    # true scan) and is EXACT at the cardinalities the thresholds care about
    # (≤3 for bool vocab; ±5% rsd vs a 0.3 unique-ratio threshold).
    exprs += [
        F.approx_count_distinct(F.when(nn, lower)).alias(f"{c}__n_distinct_lower"),
        F.max(
            F.when(nn & ~lower.isin(*BOOL_VOCAB), 1).otherwise(0)
        ).alias(f"{c}__outside_bool_vocab"),
    ]
    if include_probe:
        exprs += _probe_metric_exprs(c, dtype)  # email/phone(/datetime) — shared
    if dtype is None or isinstance(dtype, T.StringType):
        exprs += [
            _ratio(F.when(nn, numeric)).alias(f"{c}__numeric_ratio"),
            F.avg(F.when(numeric, F.when(integral, 1.0).otherwise(0.0))).alias(f"{c}__int_ratio"),
        ]
    elif isinstance(dtype, T.FractionalType):
        # numeric dtype: tree returns at the numeric branch (:141-148);
        # only the integral ratio needs data.
        exprs.append(
            F.avg(F.when(nn, F.when(col == F.floor(col), 1.0).otherwise(0.0))).alias(
                f"{c}__int_ratio"
            )
        )
    # integral numerics / timestamps: ratios are dtype constants (see
    # inference_metrics); nothing to scan.
    exprs.append(F.approx_count_distinct(F.when(nn, _s(c))).alias(f"{c}__n_distinct_trim"))
    return exprs


def _dtype_constant_metrics(dtype: T.DataType) -> dict:
    """Metrics whose value follows from the Spark type (see pruning above)."""
    out: dict = {}
    if isinstance(dtype, T.BooleanType):
        return {m: None for m in _METRICS if m != "n"}
    if isinstance(dtype, (T.IntegralType,)):
        out.update(numeric_ratio=1.0, int_ratio=1.0, datetime_ratio=0.0)
    elif isinstance(dtype, T.FractionalType):
        out.update(numeric_ratio=1.0, datetime_ratio=0.0)
    elif isinstance(dtype, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        # casts of rendered timestamps never parse as numbers (:149-153 → 0);
        # the tree reads the dtype before the datetime ratio (:161-162).
        out.update(numeric_ratio=0.0, int_ratio=None, datetime_ratio=1.0)
    return out


def _probe_metric_exprs(c: str, dtype: T.DataType | None) -> list[Column]:
    """The metrics the reference bounds to its head(100) probe
    (Latanova_v1.py:72,79,163): the regex/parse-heavy ratios. The ONLY
    definition of these expressions — both full-column and probe-bounded
    inference use it, so null/ratio semantics cannot drift between modes."""
    col = F.col(c)
    nn = col.isNotNull()
    if isinstance(dtype, T.BooleanType):
        return []
    exprs = [
        _ratio(F.when(nn, email_pred(c))).alias(f"{c}__email_ratio"),
        _ratio(F.when(nn, phone_pred(c))).alias(f"{c}__phone_ratio"),
    ]
    if dtype is None or isinstance(dtype, T.StringType):
        exprs.append(
            _ratio(F.when(nn, datetime_parse(c).isNotNull())).alias(f"{c}__datetime_ratio")
        )
    return exprs


def inference_metrics(
    df: DataFrame, columns: list[str] | None = None, probe_rows: int | None = None
) -> dict[str, dict]:
    """Compute all inference metrics for all columns in ONE scan.

    ``probe_rows`` mirrors the reference's head(100) bound
    (Latanova_v1.py:72,79,104,163): when set, the regex/parse-heavy ratios
    (email/phone/datetime) are computed over only the first
    ``probe_rows`` rows (LocalLimit pushes into the scan, so only the first
    file splits are read), while counts/cardinalities/numeric ratios still
    scan the full frame. At 100 TB this caps the per-string-column regex
    cost by design, like the reference. Default None = full-column ratios
    (strictly more robust; SURVEY.md §2.11 Q6 divergence). Caveat mirrored
    from the reference: "first N rows" assumes a stable source order — true
    for file sources, undefined after shuffles."""
    columns = columns or df.columns
    schema = {f.name: f.dataType for f in df.schema.fields}
    exprs: list[Column] = []
    for c in columns:
        exprs.extend(inference_metric_exprs(c, schema[c], include_probe=probe_rows is None))
    row = df.agg(*exprs).collect()[0].asDict()
    if probe_rows is not None:
        probe_exprs: list[Column] = []
        for c in columns:
            probe_exprs.extend(_probe_metric_exprs(c, schema[c]))
        if probe_exprs:
            row.update(df.limit(probe_rows).agg(*probe_exprs).collect()[0].asDict())
    out: dict[str, dict] = {}
    for c in columns:
        metrics = dict(_dtype_constant_metrics(schema[c]))
        for m in _METRICS:
            key = f"{c}__{m}"
            if key in row:
                metrics[m] = row[key]
            else:
                metrics.setdefault(m, None)
        out[c] = metrics
    return out


def decide_type(metrics: dict, spark_type: T.DataType) -> str:
    """The reference decision tree (Latanova_v1.py:124-170), order-exact:
    the email/phone probe runs BEFORE the numeric/datetime checks, so every
    date string and most large-magnitude numeric columns type as 'phone'
    (the reference fixture's join_date/last_purchase/address land there)."""
    n = metrics["n"] or 0
    if n == 0:
        return UNKNOWN                                            # :129-130
    if isinstance(spark_type, T.BooleanType):
        return BOOLEAN                                            # :131-132
    if metrics["n_distinct_lower"] <= 3 and not metrics["outside_bool_vocab"]:
        return BOOLEAN                                            # :133-137
    if (metrics["email_ratio"] or 0) > EMAIL_PHONE_THRESHOLD:
        return EMAIL                                              # :71-77,138-140
    if (metrics["phone_ratio"] or 0) > EMAIL_PHONE_THRESHOLD:
        return PHONE                                              # :78-85,138-140
    int_ratio = metrics["int_ratio"] if metrics["int_ratio"] is not None else 0.0
    if isinstance(spark_type, T.NumericType):
        return INTEGER if int_ratio >= INT_RATIO_THRESHOLD else FLOAT  # :141-148
    if (metrics["numeric_ratio"] or 0) >= NUMERIC_THRESHOLD:
        return INTEGER if int_ratio >= INT_RATIO_THRESHOLD else FLOAT  # :149-160
    if isinstance(spark_type, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return DATETIME                                           # :161-162
    if (metrics["datetime_ratio"] or 0) >= DATETIME_THRESHOLD:
        return DATETIME                                           # :163-165
    unique_ratio = metrics["n_distinct_trim"] / n
    if unique_ratio <= UNIQUE_THRESHOLD and metrics["n_distinct_trim"] < MAX_CATEGORIES:
        return CATEGORICAL                                        # :166-169
    return TEXT                                                   # :170


def infer_types(
    df: DataFrame,
    columns: list[str] | None = None,
    probe_rows: int | None = None,
) -> dict[str, str]:
    """Infer the logical type of every column — one scan + driver tree
    (+ one bounded probe scan when ``probe_rows`` is set)."""
    columns = columns or df.columns
    metrics = inference_metrics(df, columns, probe_rows=probe_rows)
    schema = {f.name: f.dataType for f in df.schema.fields}
    return {c: decide_type(metrics[c], schema[c]) for c in columns}
