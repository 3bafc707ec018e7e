"""Data-quality audit operators: key-integrity checks and schema drift —
the constraint-validation layer an ETL engine runs before/after loads.

No reference counterpart (the reference validates statistical moments, not
relational integrity; SURVEY.md §2.9). Everything here is plain joins and
aggregates — one bounded shuffle per check — so the audits run at corpus
scale as ordinary queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pk_violations(df: DataFrame, keys: list[str]) -> DataFrame:
    """Rows that break a primary-key/uniqueness constraint: one row per
    duplicated key tuple with its multiplicity, plus NULL-key tuples
    (a PK must be non-null). Returns (keys..., n_rows, violation) where
    violation ∈ {'duplicate', 'null_key'}. One groupBy shuffle on the key;
    partial aggregation absorbs hot duplicates map-side."""
    null_pred = None
    for k in keys:
        p = F.col(k).isNull()
        null_pred = p if null_pred is None else (null_pred | p)
    counted = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_rows"))
    dups = counted.filter((F.col("n_rows") > 1) & ~F.coalesce(null_pred, F.lit(False)))
    nulls = counted.filter(F.coalesce(null_pred, F.lit(False)))
    return dups.withColumn("violation", F.lit("duplicate")).unionByName(
        nulls.withColumn("violation", F.lit("null_key"))
    )


def fk_violations(
    child: DataFrame,
    parent: DataFrame,
    on: dict[str, str],
) -> DataFrame:
    """Orphaned foreign keys: child rows whose key tuple has no match in
    the parent — ``on`` maps child column → parent column. NULL child keys
    are NOT violations (SQL FK semantics: NULLs opt out of the constraint).
    Returns one row per orphaned key tuple with its row count, so a hot
    orphan key arrives pre-aggregated instead of row-by-row.

    Plan: pre-aggregate the child to distinct key tuples (the groupBy
    shuffle), LEFT ANTI join against the parent's distinct keys — at scale
    both sides of the anti-join carry keys only, never rows, and AQE
    broadcasts the parent side when the dimension is small."""
    ckeys, pkeys = list(on.keys()), list(on.values())
    notnull = None
    for c in ckeys:
        p = F.col(c).isNotNull()
        notnull = p if notnull is None else (notnull & p)
    child_keys = (
        child.filter(notnull)
        .groupBy(*ckeys)
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    parent_keys = parent.select(
        *[F.col(pk).alias(ck) for ck, pk in on.items()]
    ).dropDuplicates()
    return child_keys.join(parent_keys, ckeys, "left_anti")


def accepted_values_violations(
    df: DataFrame, col: str, allowed: list
) -> DataFrame:
    """Rows whose ``col`` falls outside an accepted-values contract
    (dbt-style): one row per offending value with its count. NULLs are
    reported as their own row (value NULL) — absence from ``allowed`` is
    deliberate; pass None in ``allowed`` to accept them."""
    return (
        df.groupBy(F.col(col).alias("value"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(
            ~F.col("value").isin([v for v in allowed if v is not None])
            | (F.col("value").isNull() & F.lit(None not in allowed))
        )
    )


def schema_drift(old: DataFrame, new: DataFrame) -> list[dict]:
    """Schema diff between two frames (driver-side, no jobs): one entry per
    changed column, status ∈ {'added', 'removed', 'type_changed',
    'nullability_changed'}. Run it with ``distribution_drift`` (which
    compares VALUES) across snapshot boundaries to catch silent upstream
    changes before they land in a 100 TB table."""
    o = {f.name: f for f in old.schema.fields}
    n = {f.name: f for f in new.schema.fields}
    out: list[dict] = []
    for name in sorted(set(o) | set(n)):
        if name not in o:
            out.append({"column": name, "status": "added",
                        "new_type": n[name].dataType.simpleString()})
        elif name not in n:
            out.append({"column": name, "status": "removed",
                        "old_type": o[name].dataType.simpleString()})
        elif o[name].dataType != n[name].dataType:
            out.append({"column": name, "status": "type_changed",
                        "old_type": o[name].dataType.simpleString(),
                        "new_type": n[name].dataType.simpleString()})
        elif o[name].nullable != n[name].nullable:
            out.append({"column": name, "status": "nullability_changed",
                        "old_nullable": o[name].nullable,
                        "new_nullable": n[name].nullable})
    return out


def mahalanobis_outliers(
    df: DataFrame,
    cols: list[str],
    threshold: float | None = None,
    ridge: float = 1e-9,
) -> DataFrame:
    """Multivariate outlier scoring: squared Mahalanobis distance
    (x−μ)ᵀ Σ⁻¹ (x−μ) of every row against the frame's own mean and sample
    covariance — catches the jointly-implausible rows (price high AND
    quantity low) that per-column z-scores miss.

    Plan: ONE exact-DECIMAL aggregate computes all first moments and
    pairwise cross sums (partition-order-independent, so μ/Σ are
    deterministic under any partitioning/AQE re-plan); the d×d inverse is
    driver-side numpy (d = len(cols), small by construction; ``ridge``·I
    regularizes rank-deficient covariances); scoring is ONE codegen
    projection with Σ⁻¹'s entries as literals — it fuses into the scan, no
    second shuffle anywhere. Rows with a NULL in ``cols`` score NULL.
    Returns the input plus ``maha_sq`` (+ ``outlier`` flag when
    ``threshold`` is given — compare against a chi-square(d) quantile)."""
    import numpy as np

    d = len(cols)
    if d == 0:
        raise ValueError("cols must be non-empty")
    # decimal(18,6) is deliberate: the pairwise product is decimal(37,12),
    # the widest exact product under Spark's 38-digit cap. That bounds the
    # representable input at |x| < 1e12 — validate and fail fast, because
    # past it the cast errors under ANSI and silently NULLs rows out of the
    # moment sums under non-ANSI (wrong mu/Sigma with no signal).
    dec = {c: F.col(c).cast("decimal(18,6)") for c in cols}
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, ci in enumerate(cols):
        aggs.append(F.sum(dec[ci]).cast("double").alias(f"__s_{i}"))
        for j, cj in enumerate(cols[: i + 1]):
            aggs.append(
                F.sum(dec[ci] * dec[cj]).cast("double").alias(f"__p_{i}_{j}")
            )
    base = df.na.drop(subset=cols)
    # magnitude guard runs on the doubles BEFORE any decimal cast executes
    lim = base.agg(
        *[F.max(F.abs(F.col(c).cast("double"))).alias(f"__m_{i}")
          for i, c in enumerate(cols)]
    ).collect()[0]
    for i, c in enumerate(cols):
        m = lim[f"__m_{i}"]
        if m is not None and m >= 1e12:
            raise ValueError(
                f"mahalanobis_outliers: |{c}| reaches {m:g} >= 1e12, beyond "
                "the exact decimal(18,6) moment range; rescale the column "
                "(e.g. divide by a unit factor) before scoring"
            )
    row = base.agg(*aggs).collect()[0]
    n = row["__n"]
    if n < 2:
        raise ValueError("need at least 2 complete rows to fit a covariance")
    mu = np.array([row[f"__s_{i}"] / n for i in range(d)])
    S = np.empty((d, d))
    for i in range(d):
        for j in range(i + 1):
            # sample covariance from exact sums: (Sxy/n - mx*my) * n/(n-1)
            S[i, j] = S[j, i] = (
                (row[f"__p_{i}_{j}"] / n - mu[i] * mu[j]) * n / (n - 1)
            )
    A = np.linalg.inv(S + ridge * np.eye(d))
    diffs = [(F.col(c).cast("double") - F.lit(float(mu[i]))) for i, c in enumerate(cols)]
    score = None
    for i in range(d):
        for j in range(d):
            term = F.lit(float(A[i, j])) * diffs[i] * diffs[j]
            score = term if score is None else score + term
    out = df.withColumn("maha_sq", score)
    if threshold is not None:
        out = out.withColumn(
            "outlier", (F.col("maha_sq") > F.lit(float(threshold))).cast("int")
        )
    return out


def distribution_drift(
    old: DataFrame,
    new: DataFrame,
    col: str,
    bins: int = 10,
    smoothing: float = 1e-4,
    ndigits: int = 6,
) -> tuple[float, DataFrame]:
    """Population Stability Index between two snapshots of a numeric
    column — the standard input-drift alarm (rule of thumb: < 0.1 stable,
    0.1–0.25 moderate shift, > 0.25 investigate): bin the OLD snapshot's
    range into equal-width buckets, measure both snapshots against those
    SAME buckets (values outside the old range clamp into the edge
    buckets — new mass outside the old range is exactly the drift worth
    seeing), and sum (p_new − p_old)·ln(p_new/p_old). ``smoothing`` floors
    empty-bucket shares so the log stays finite.

    Returns (psi, per_bin) where per_bin = (bin, p_old, p_new,
    contribution). Cost: one min/max agg over the old snapshot + one
    bucket-groupBy per snapshot — three scans total, each partial-agg'd;
    the per-bin frame is ``bins`` rows. Complements ``schema_drift``
    (shape): this one catches a column whose schema looks fine but whose
    DISTRIBUTION moved."""
    import math

    x_old = F.col(col).cast("double")
    base_old = old.filter(x_old.isNotNull() & ~F.isnan(x_old))
    mm = base_old.agg(F.min(x_old).alias("mn"), F.max(x_old).alias("mx")).collect()[0]
    mn, mx = mm["mn"], mm["mx"]
    if mn is None:
        raise ValueError(f"old snapshot has no finite values in {col!r}")
    width = (mx - mn) / float(bins) if mx > mn else 1.0

    def shares(df: DataFrame) -> dict[int, float]:
        x = F.col(col).cast("double")
        b = df.filter(x.isNotNull() & ~F.isnan(x))
        bucket = F.least(
            F.greatest(F.floor((x - F.lit(mn)) / F.lit(width)), F.lit(0)),
            F.lit(bins - 1),
        )
        rows = b.groupBy(bucket.cast("int").alias("bin")).agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
        total = sum(r["n"] for r in rows)
        return {r["bin"]: r["n"] / total for r in rows} if total else {}

    po, pn = shares(old), shares(new)
    out_rows, psi = [], 0.0
    for i in range(bins):
        p, q = max(po.get(i, 0.0), smoothing), max(pn.get(i, 0.0), smoothing)
        contrib = (q - p) * math.log(q / p)
        psi += contrib
        out_rows.append(
            (i, round(po.get(i, 0.0), ndigits), round(pn.get(i, 0.0), ndigits),
             round(contrib, ndigits))
        )
    per_bin = old.sparkSession.createDataFrame(
        out_rows, "bin int, p_old double, p_new double, contribution double"
    )
    return round(psi, ndigits), per_bin
