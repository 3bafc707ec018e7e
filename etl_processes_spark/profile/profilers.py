"""Per-type column profilers — the reference's profiling core, Spark-first.

Reference: calculate_numeric_statistics (Latanova_v1.py:173-191),
calculate_boolean_statistics (:228-252), calculate_categorical_statistics
(:255-271), calculate_datetime_statistics (:273-298),
detect_boolean_format (:89-121).

Semantic parity decisions (SURVEY.md §2.11):
 - np.std is POPULATION std (ddof=0) → ``stddev_pop``, never ``stddev``.
 - np.median / np.percentile are exact linear-interpolated → exact
   ``percentile`` / ``median`` (fine at profile-sample scale); the one-column
   ``numeric_profile_df`` routes large frames to a distributed selection with
   bit-identical values.
 - scipy.stats.skew/kurtosis defaults (bias=True, fisher=True) equal Spark's
   ``skewness``/``kurtosis`` (population g1 / excess g2) — pinned by tests.
 - Values matching neither boolean vocab set are EXCLUDED from boolean stats
   (not coerced to false), Latanova_v1.py:235-241.
 - Categorical tie-break: pandas value_counts order among equal counts is not
   contractual; this engine defines (count desc, value asc).

The ``*_profile_exprs`` builders return aggregate Columns, so many columns
profile in ONE scan: ``profile.column_stats`` composes them into the stats
dicts that ``profile()`` stores and ``validate()`` compares. The one-column
``*_profile_df`` frames serve the oracle queries. All scans are single-pass
with partial aggregation — map-side combine means the shuffle is one row per
partition at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_processes_spark.partitioning import _plan_size_bytes
from etl_processes_spark.profile.types import (
    BOOL_FALSE,
    BOOL_FORMATS,
    BOOL_TRUE,
)
from etl_processes_spark.profile.infer import bool_lower, datetime_parse

# ---------------------------------------------------------------------------
# numeric
# ---------------------------------------------------------------------------


def _stat_exprs(x: Column, q1: Column, med: Column, q3: Column, p: str = "") -> list[Column]:
    """The numeric profile row: moments of ``x`` around the given quartile
    Columns (aggregates or literals)."""
    n = F.count(x)
    return [
        F.avg(x).alias(f"{p}mean"),
        F.coalesce(F.stddev_pop(x), F.lit(0.0)).alias(f"{p}std"),
        med.alias(f"{p}median"),
        F.min(x).alias(f"{p}min_val"),
        F.max(x).alias(f"{p}max_val"),
        F.when(n > 2, F.coalesce(F.skewness(x), F.lit(0.0))).otherwise(0.0).alias(f"{p}skew"),
        F.when(n > 3, F.coalesce(F.kurtosis(x), F.lit(0.0))).otherwise(0.0).alias(f"{p}kurt"),
        q1.alias(f"{p}q1"),
        q3.alias(f"{p}q3"),
        n.alias(f"{p}n_samples"),
    ]


def numeric_profile_exprs(c: str | Column, prefix: str = "") -> list[Column]:
    """mean/std(pop)/median/min/max/skew/kurtosis/q1/q3/count
    (Latanova_v1.py:179-189). ``skew``/``kurt`` are 0 for degenerate inputs
    (n<=2 / n<=3), matching the reference's explicit guards (:185-186)."""
    x = (F.col(c) if isinstance(c, str) else c).cast("double")
    q1 = F.percentile(x, F.lit(0.25))
    med = F.median(x)
    q3 = F.percentile(x, F.lit(0.75))
    return _stat_exprs(x, q1, med, q3, prefix)


# numeric_profile_df switches to distributed selection above this much
# scanned column data (see its docstring for the crossover)
DISTRIBUTED_THRESHOLD_BYTES = 512 << 10
# range partitions of the distributed selection (a floor; it widens with size)
DISTRIBUTED_PARTS = 32


def numeric_profile_df(df: DataFrame, c: str, ndigits: int | None = None) -> DataFrame:
    """One-row numeric profile. The size of the scanned column data routes
    the q1/median/q3 computation:

    - at most ``DISTRIBUTED_THRESHOLD_BYTES`` (Catalyst's column-pruned size
      statistic, no job; an unknown size counts as small): Spark's
      ``percentile()`` aggregate. It merges every partition's (value, count)
      map into ONE final buffer: O(distinct) memory and time on a single
      task. Measured at sf1 (6M-row wide-domain double): 50s for a query
      whose moments take 1.5s — the single-task merge IS the wall clock.
    - above it: ``exact_percentiles_distributed`` (range partition +
      per-partition counts + flank-rank fetch) — bit-identical values,
      nothing bigger than the per-range-partition counts on any one task
      (measured 3.4s on the same sf1 column, ~15x).

    The 512 KB threshold sits at the MEASURED crossover on wide-domain
    doubles (~2.5 pruned bytes/value): the aggregate wins at 140 KB/60k rows
    (1.4s vs 2.1s) and loses at 1.4 MB/600k rows (4.4s vs 1.4s) — its map
    merge is O(distinct) on one task, so its cost passes the distributed
    path's ~1.3s multi-job overhead a few hundred thousand distincts in."""
    base = df.filter(F.col(c).isNotNull())
    sz = _plan_size_bytes(base.select(c))
    if sz is not None and sz > DISTRIBUTED_THRESHOLD_BYTES:
        n, qs = exact_percentiles_distributed(base, c, [0.25, 0.5, 0.75])
        q1, med, q3 = (F.lit(v if n else None).cast("double") for v in qs)
        out = base.agg(*_stat_exprs(F.col(c).cast("double"), q1, med, q3))
    else:
        out = base.agg(*numeric_profile_exprs(c))
    if ndigits is not None:
        out = round_floats(out, ndigits)
    return out


# ---------------------------------------------------------------------------
# boolean
# ---------------------------------------------------------------------------


def _bool_parse(c: str | Column) -> Column:
    """Truthy→1, falsy→0, anything else → NULL (excluded; :235-241)."""
    lower = bool_lower(c)
    return (
        F.when(lower.isin(*BOOL_TRUE), F.lit(1))
        .when(lower.isin(*BOOL_FALSE), F.lit(0))
        .otherwise(F.lit(None).cast("int"))
    )


# Spelling buckets for detect_boolean_format (Latanova_v1.py:96-117).
# 'bool' (a native python bool) is detected from the Spark column type instead
# of `val is True` — same semantics, type-driven.
_BOOL_SPELLINGS: dict[str, tuple[str, ...]] = {
    "true_false": ("true", "false"),
    "yes_no": ("yes", "no"),
    "one_zero": ("1", "0"),
    "yn": ("y", "n"),
    "tf": ("t", "f"),
}


def bool_profile_exprs(c: str | Column, is_native_bool: bool = False, prefix: str = "") -> list[Column]:
    b = _bool_parse(c)
    lower = bool_lower(c)
    p = prefix
    exprs = [
        F.avg(b).alias(f"{p}true_probability"),
        F.sum(b).alias(f"{p}true_count"),
        (F.count(b) - F.sum(b)).alias(f"{p}false_count"),
        F.count(b).alias(f"{p}n_samples"),
    ]
    for fmt, vocab in _BOOL_SPELLINGS.items():
        cnt = (
            F.lit(0).cast("long")
            if is_native_bool
            else F.sum(F.when(lower.isin(*vocab), 1).otherwise(0))
        )
        exprs.append(cnt.alias(f"{p}cnt_{fmt}"))
    col = F.col(c) if isinstance(c, str) else c
    exprs.append(
        (F.count(col) if is_native_bool else F.lit(0).cast("long")).alias(f"{p}cnt_bool")
    )
    return exprs


def bool_format_from_counts(counts: dict[str, int]) -> str | None:
    """argmax over spelling counters; ties → earliest dict key; all-zero →
    None (Latanova_v1.py:118-121)."""
    best = max(BOOL_FORMATS, key=lambda f: counts.get(f, 0))
    return best if counts.get(best, 0) > 0 else None


def bool_profile_df(df: DataFrame, c: str, ndigits: int | None = None) -> DataFrame:
    is_native = isinstance(df.schema[c].dataType, T.BooleanType)
    out = df.filter(F.col(c).isNotNull()).agg(*bool_profile_exprs(c, is_native))
    if ndigits is not None:
        out = round_floats(out, ndigits)
    return out


# ---------------------------------------------------------------------------
# categorical
# ---------------------------------------------------------------------------


def cat_profile_df(df: DataFrame, c: str, ndigits: int | None = None) -> DataFrame:
    """value_counts(normalize=True) (Latanova_v1.py:262) as a DataFrame:
    (category, cnt, probability), ordered count desc then value asc (defined
    tie-break). One shuffle on the category key; partial agg bounds it."""
    col = F.col(c)
    counted = (
        df.filter(col.isNotNull())
        .groupBy(col.cast("string").alias("category"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # Total via broadcast of a 1-row agg, NOT a global window (a
    # partitionBy()-less window funnels everything to one task at scale).
    total = counted.agg(F.sum("cnt").alias("__total"))
    out = (
        counted.crossJoin(F.broadcast(total))
        .withColumn("probability", F.col("cnt") / F.col("__total"))
        .drop("__total")
        .orderBy(F.desc("cnt"), F.asc("category"))
    )
    if ndigits is not None:
        out = round_floats(out, ndigits)
    return out


# ---------------------------------------------------------------------------
# datetime
# ---------------------------------------------------------------------------


def ts_expr(df: DataFrame, c: str) -> Column:
    """Native timestamp/date columns pass through untouched (the string
    round-trip in datetime_parse would drop sub-second precision)."""
    if isinstance(df.schema[c].dataType, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return F.col(c).cast("timestamp")
    return datetime_parse(c)


def detect_date_format(df: DataFrame, c: str) -> str | None:
    """Regex-match a representative value against the 3 supported patterns
    (Latanova_v1.py:284-291). The reference uses iloc[0]; Spark has no row
    order, so we probe min(value) — deterministic (documented divergence)."""
    import re

    if isinstance(df.schema[c].dataType, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return "YYYY-MM-DD"
    sample = df.filter(F.col(c).isNotNull()).agg(F.min(F.col(c).cast("string"))).collect()[0][0]
    if sample is None:
        return None
    s = str(sample)
    if re.match(r"\d{4}-\d{2}-\d{2}", s):
        return "YYYY-MM-DD"
    if re.match(r"\d{2}/\d{2}/\d{4}", s):
        return "MM/DD/YYYY"
    if re.match(r"\d{2}-\d{2}-\d{4}", s):
        return "DD-MM-YYYY"
    return None


# ---------------------------------------------------------------------------
# histogram (the §2.10 viz aggregate: 50-bin density inputs, Latanova_v1.py:500-540)
# ---------------------------------------------------------------------------


def histogram_df(df: DataFrame, c: str, bins: int = 50) -> DataFrame:
    """(bin, n) histogram over [min, max] — the aggregate feeding the
    reference's matplotlib histograms; plotting stays driver-side. Bucket
    arithmetic uses only min/max-derived constants, so the DuckDB oracle
    computes identical buckets (floor of identical doubles)."""
    x = F.col(c).cast("double")
    # NaN must be excluded, not just NULL: Spark's max treats NaN as the
    # LARGEST double, so one NaN would make width NaN and floor(NaN)=0
    # silently collapse every row into bin 0. (The reference's np.histogram
    # raises on a non-finite range; we drop the non-finite values instead.)
    base = df.filter(x.isNotNull() & ~F.isnan(x))
    mm = base.agg(F.min(x).alias("mn"), F.max(x).alias("mx"))
    j = base.crossJoin(F.broadcast(mm))
    width = (F.col("mx") - F.col("mn")) / F.lit(float(bins))
    bucket = F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
        F.least(
            F.floor((x - F.col("mn")) / width), F.lit(bins - 1)
        )
    )
    return (
        j.groupBy(bucket.cast("int").alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bin")
    )


# NaN exclusion mirrors histogram_df: DuckDB also orders NaN above every
# double, so without it one NaN row gives the twin mx=NaN and collapses its
# histogram while the Spark side (hardened above) stays correct
HISTOGRAM_SQL = """
WITH mm AS (SELECT min(CAST({col} AS DOUBLE)) AS mn, max(CAST({col} AS DOUBLE)) AS mx
            FROM {tbl} WHERE {col} IS NOT NULL AND NOT isnan(CAST({col} AS DOUBLE)))
SELECT CAST(CASE WHEN mx = mn THEN 0
            ELSE least(floor((CAST({col} AS DOUBLE) - mn) / ((mx - mn) / {binsf})), {binsm1}) END AS INTEGER) AS bin,
       CAST(count(*) AS BIGINT) AS n
FROM {tbl}, mm WHERE {col} IS NOT NULL AND NOT isnan(CAST({col} AS DOUBLE))
GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# hash-stable exact profile (for oracle-gated queries)
# ---------------------------------------------------------------------------


def numeric_profile_exact_df(
    df: DataFrame,
    y: Column,
    out_mult: float = 1.0,
    ndigits: int = 6,
) -> DataFrame:
    """numeric_profile computed from EXACT decimal power sums, for columns
    whose values are integers after scaling (``y`` must be integer-valued and
    |y| < 1e9). Why: independent double summation in two engines differs in
    low-order bits, so round(stat, 6) is a coin-flip at rounding boundaries
    (observed: std 60058044.626067 vs ...066). Here S1..S4 = Σyᵏ are exact
    DECIMAL integers (9→36 digits of headroom), converted once to double, and
    every downstream moment formula is the IDENTICAL IEEE-754 expression on
    both sides — bit-stable by construction. `pow` is avoided (libm may
    differ): skew uses m3/(sqrt(m2)*m2), kurt m4/(m2*m2)-3.

    Still the reference's statistics exactly (population moments, linear-
    interpolated percentiles); ``out_mult`` rescales from integer units
    (cents → /100 ⇒ 0.01; days → ×86400)."""
    return numeric_profile_exact_multi_df(df, [(None, y, out_mult)], ndigits=ndigits)


def _exact_agg_exprs(y: Column, tag: str) -> list[Column]:
    """The per-column aggregate expressions behind the exact profile: exact
    decimal power sums S1..S4, count/min/max, and ONE array-percentile
    aggregate (three scalar percentile() calls each buffer+sort the column
    independently — measured 4.2s -> 2.0s on 600k rows; the array form
    returns bit-identical quantiles from one buffer). Every aggregate skips
    NULLs natively, so no pre-filter is needed per column."""
    yd = y.cast("decimal(9,0)")
    yf = y.cast("double")
    return [
        F.sum(yd).cast("double").alias(f"s1{tag}"),
        F.sum(yd * yd).cast("double").alias(f"s2{tag}"),
        F.sum(yd * yd * yd).cast("double").alias(f"s3{tag}"),
        F.sum(yd * yd * yd * yd).cast("double").alias(f"s4{tag}"),
        F.count(yd).alias(f"n{tag}"),
        F.min(yf).alias(f"mn{tag}"),
        F.max(yf).alias(f"mx{tag}"),
        F.percentile(yf, F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))).alias(
            f"pq{tag}"
        ),
    ]


def _exact_stat_exprs(tag: str, out_mult: float, ndigits: int) -> list[Column]:
    """Moment/percentile formulas over the tagged aggregate columns. These are
    the IDENTICAL IEEE-754 expressions the DuckDB twin evaluates — see
    numeric_profile_exact_df's docstring for why exactness matters."""
    n = F.col(f"n{tag}")
    s1, s2, s3, s4 = (F.col(f"s{i}{tag}") for i in (1, 2, 3, 4))
    p25 = F.element_at(f"pq{tag}", 1)
    p50 = F.element_at(f"pq{tag}", 2)
    p75 = F.element_at(f"pq{tag}", 3)
    m = s1 / n
    m2 = s2 / n - m * m
    m3 = s3 / n - 3 * m * (s2 / n) + 2 * m * m * m
    m4 = s4 / n - 4 * m * (s3 / n) + 6 * m * m * (s2 / n) - 3 * m * m * m * m
    mult = F.lit(float(out_mult))
    return [
        F.round(m * mult, ndigits).alias("mean"),
        F.round(
            F.when(n > 1, F.sqrt(F.greatest(m2, F.lit(0.0))) * mult).otherwise(0.0),
            ndigits,
        ).alias("std"),
        F.round(p50 * mult, ndigits).alias("median"),
        F.round(F.col(f"mn{tag}") * mult, ndigits).alias("min_val"),
        F.round(F.col(f"mx{tag}") * mult, ndigits).alias("max_val"),
        F.round(
            F.when((n > 2) & (m2 > 0), m3 / (F.sqrt(m2) * m2)).otherwise(0.0), ndigits
        ).alias("skew"),
        F.round(
            F.when((n > 3) & (m2 > 0), m4 / (m2 * m2) - 3).otherwise(0.0), ndigits
        ).alias("kurt"),
        F.round(p25 * mult, ndigits).alias("q1"),
        F.round(p75 * mult, ndigits).alias("q3"),
        n.alias("n_samples"),
    ]


def numeric_profile_exact_multi_df(
    df: DataFrame,
    specs: list[tuple[str | None, Column, float]],
    ndigits: int = 6,
) -> DataFrame:
    """Exact profiles for SEVERAL columns in ONE scan + ONE aggregate (the
    separate-agg form re-reads the table per column — measured 4.7s -> 2.6s
    for two lineitem columns at sf0.1). ``specs`` is ``[(name, y, out_mult)]``;
    with ``name`` set, rows carry a ``col_name`` label. Values are identical
    to per-column ``numeric_profile_exact_df`` calls: the aggregate and stat
    expressions are shared, and partial aggregation keeps the shuffle at one
    row per partition regardless of how many columns ride along."""
    aggs: list[Column] = []
    for i, (_, y, _) in enumerate(specs):
        aggs.extend(_exact_agg_exprs(y, f"_{i}"))
    agg = df.agg(*aggs)
    labeled = specs[0][0] is not None
    # one wide row -> one row per spec via stack(): avoids re-deriving the
    # aggregate once per column branch (a union of selects over the same agg
    # frame plans the aggregate N times)
    parts: list[Column] = []
    stat_names = None
    for i, (name, _, out_mult) in enumerate(specs):
        stats = _exact_stat_exprs(f"_{i}", out_mult, ndigits)
        if stat_names is None:
            stat_names = ["mean", "std", "median", "min_val", "max_val",
                          "skew", "kurt", "q1", "q3", "n_samples"]
        if labeled:
            parts.append(F.lit(name))
        parts.extend(stats)
    out_cols = (["col_name"] if labeled else []) + stat_names
    stacked = agg.select(
        F.stack(F.lit(len(specs)), *parts).alias(*out_cols)
    )
    return stacked


NUMERIC_PROFILE_EXACT_SQL = """
WITH yv AS (SELECT CAST(CAST({y} AS DECIMAL(9,0)) AS HUGEINT) AS yd, CAST({y} AS DOUBLE) AS yf
            FROM {tbl} WHERE {notnull} IS NOT NULL),
s AS (SELECT CAST(sum(yd) AS DOUBLE) AS s1,
             CAST(sum(yd*yd) AS DOUBLE) AS s2,
             CAST(sum(yd*yd*yd) AS DOUBLE) AS s3,
             CAST(sum(yd*yd*yd*yd) AS DOUBLE) AS s4,
             CAST(count(yd) AS BIGINT) AS n,
             min(yf) AS mn, max(yf) AS mx,
             quantile_cont(yf, 0.25) AS p25,
             quantile_cont(yf, 0.5) AS p50,
             quantile_cont(yf, 0.75) AS p75
      FROM yv)
SELECT round((s1/n) * {mult}, 6) AS mean,
       round(CASE WHEN n > 1 THEN sqrt(greatest(s2/n - (s1/n)*(s1/n), 0.0)) * {mult} ELSE 0.0 END, 6) AS std,
       round(p50 * {mult}, 6) AS median,
       round(mn * {mult}, 6) AS min_val,
       round(mx * {mult}, 6) AS max_val,
       round(CASE WHEN n > 2 AND s2/n - (s1/n)*(s1/n) > 0
                  THEN (s3/n - 3*(s1/n)*(s2/n) + 2*(s1/n)*(s1/n)*(s1/n))
                       / (sqrt(s2/n - (s1/n)*(s1/n)) * (s2/n - (s1/n)*(s1/n)))
                  ELSE 0.0 END, 6) AS skew,
       round(CASE WHEN n > 3 AND s2/n - (s1/n)*(s1/n) > 0
                  THEN (s4/n - 4*(s1/n)*(s3/n) + 6*(s1/n)*(s1/n)*(s2/n) - 3*(s1/n)*(s1/n)*(s1/n)*(s1/n))
                       / ((s2/n - (s1/n)*(s1/n)) * (s2/n - (s1/n)*(s1/n))) - 3
                  ELSE 0.0 END, 6) AS kurt,
       round(p25 * {mult}, 6) AS q1,
       round(p75 * {mult}, 6) AS q3,
       n AS n_samples
FROM s
"""


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def round_floats(df: DataFrame, ndigits: int) -> DataFrame:
    """Round every floating column — used by oracle-checked queries so the
    driver's value-hash is stable across Spark/DuckDB float summation order."""
    cols = []
    for f in df.schema.fields:
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            cols.append(F.round(F.col(f.name).cast("double"), ndigits).alias(f.name))
        else:
            cols.append(F.col(f.name))
    return df.select(*cols)


def exact_percentiles_distributed(
    df: DataFrame,
    y: Column | str,
    qs: list[float],
    parts: int = DISTRIBUTED_PARTS,
) -> tuple[int, list[float]]:
    """Exact linear-interpolated percentiles by DISTRIBUTED SELECTION —
    the 100 TB path. Spark's exact ``percentile()`` aggregate buffers every
    (value, count) pair per partition and merges ALL of them into ONE final
    aggregation buffer: O(distinct values) memory on a single task, a
    driver-scale bomb on a wide-domain column. Here the column is range-
    partitioned (one shuffle of the values, each partition owning a sorted
    key range), per-partition counts give global offsets, and only the ≤2
    rows flanking each target rank are fetched (row_number within the one
    partition that owns each rank). Nothing larger than ``parts`` counts
    ever reaches the driver.

    Returns ``(n, values)`` with the same interpolation Spark/DuckDB/numpy
    use: v = lo + (hi - lo) * frac at rank (n-1)*q. Bit-identical to
    ``F.percentile`` on the same data (pinned by tests)."""
    import math

    from pyspark.sql.window import Window

    from pyspark import StorageLevel

    col = F.col(y) if isinstance(y, str) else y
    vals = df.select(col.cast("double").alias("v")).filter(F.col("v").isNotNull())
    # ``parts`` is a floor, not a cap: at sf100 (600 M doubles) 32 range
    # partitions mean 32 CONCURRENT ~19 M-row sorts in the row_number stage,
    # which exhausted the unified memory pool (UNABLE_TO_ACQUIRE_MEMORY,
    # measured) — scale the partition count so each range owns ~64 MB of
    # column data, and store the shared checkpoint SERIALIZED so its blocks
    # stay compact and disk-evictable under sort pressure.
    sz = _plan_size_bytes(vals)
    if sz is not None:
        parts = max(parts, min(2048, int(sz // (64 << 20)) + 1))
    ranged = (
        vals.repartitionByRange(parts, "v")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(  # shared by the counts + selection jobs
            eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK
        )
    )
    counts = sorted(
        [(r["pid"], r["count"]) for r in ranged.groupBy("pid").count().collect()]
    )
    n = sum(c for _, c in counts)
    if n == 0:
        return 0, [float("nan")] * len(qs)
    offs, acc = {}, 0
    for pid, c in counts:
        offs[pid] = acc
        acc += c
    plan, targets = [], set()
    for q in qs:
        k = (n - 1) * q
        lo, hi, frac = math.floor(k), math.ceil(k), (n - 1) * q - math.floor(k)
        plan.append((lo, hi, frac))
        targets.update((lo, hi))
    need: dict[int, list[int]] = {}
    for pos in targets:
        for pid, c in counts:
            if offs[pid] <= pos < offs[pid] + c:
                need.setdefault(pid, []).append(pos - offs[pid] + 1)
                break
    cond = F.lit(False)
    for pid, rns in need.items():
        cond = cond | ((F.col("pid") == pid) & F.col("rn").isin(rns))
    w = Window.partitionBy("pid").orderBy("v")
    # Only the ≤2·|qs| range partitions that own a flank rank are sorted:
    # without the pid pre-filter the row_number stage re-shuffles and sorts
    # EVERY partition of the column just to keep ≤2 rows from each of ~6 —
    # at sf100 that is ~75 range sorts where 6 suffice (row_number within a
    # pid is unaffected by dropping other pids, so values are identical).
    picked = (
        ranged.filter(F.col("pid").isin([int(p) for p in need]))
        .withColumn("rn", F.row_number().over(w))
        .filter(cond)
        .select("pid", "rn", "v")
        .collect()
    )
    at = {offs[r["pid"]] + r["rn"] - 1: r["v"] for r in picked}
    # lower*(1-d) + higher*d: Spark Percentile's exact IEEE expression
    # (algebraically equal to lo + (hi-lo)*d but NOT bit-equal)
    return n, [at[lo] * (1.0 - frac) + at[hi] * frac for lo, hi, frac in plan]
