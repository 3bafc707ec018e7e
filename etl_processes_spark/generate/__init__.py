"""generate(spark, profiles, n, seed) → DataFrame — all columns generated as
expressions over ONE ``spark.range(n)`` seed frame (no zip/join;
SURVEY.md §2.6 ``column_zip``)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_processes_spark.generate.generators import (
    _MAX_INLINE,
    u_expr as gen_u_expr,
    bootstrap_resample,
    gen_boolean,
    gen_categorical,
    gen_categorical_join,
    gen_datetime,
    gen_email_fallback,
    gen_numeric,
    gen_phone_fallback,
    gen_unknown,
)
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

DEFAULT_GEN_SEED = 2025


def generate(
    spark: SparkSession,
    profiles: dict[str, ColumnProfile],
    n_samples: int,
    seed: int = DEFAULT_GEN_SEED,
) -> DataFrame:
    """One generation job: spark.range(n) + one expression per column.
    Per-column seeds are offset deterministically, so the whole table is
    reproducible for a given (profiles, n, seed). Text columns without an
    embedding model fall back to bootstrap resampling of retained entries
    (the reference's email/phone strategy, Latanova_v1.py:306-309); the MVN
    embedding path lives in etl_processes_spark.text."""
    frame = spark.range(n_samples)
    # Generated columns are built under reserved temp names and renamed to
    # their profile names only in the final select: the range "id" column
    # (which u_expr/z_expr and gen_text_column key their RNG off) must stay
    # the ONLY column named "id" through every intermediate stage, or a
    # profiled column named "id" makes each reference AMBIGUOUS.
    tmp_of = {name: f"__etl_gen_{i}__" for i, name in enumerate(profiles)}
    # Materialize one uniform column per INLINE categorical target FIRST: a
    # raw F.rand() inside a when-chain re-draws per branch (see
    # gen_categorical). Join-path categoricals (> _MAX_INLINE categories)
    # draw their own 'catj' uniform inside gen_categorical_join — giving
    # them a __r_i would leave a dead expression node in every row.
    rand_cols: dict[str, str] = {}
    for i, (name, prof) in enumerate(profiles.items()):
        if prof.logical_type == CATEGORICAL:
            cats = prof.stats.get("categories")
            if cats and len(cats) > _MAX_INLINE:
                continue  # join path: never reads __r_i
            rc = f"__r_{i}"
            frame = frame.withColumn(rc, gen_u_expr(seed + 7919 * i, "cat"))
            rand_cols[name] = rc

    join_cols: list[tuple[str, ColumnProfile, int]] = []
    exprs = []
    for i, (name, prof) in enumerate(profiles.items()):
        col_seed = seed + 7919 * i  # stable per-column offset
        tmp = tmp_of[name]
        t = prof.logical_type
        s = prof.stats
        if t in (INTEGER, FLOAT):
            exprs.append(gen_numeric(s, t == INTEGER, col_seed).alias(tmp))
        elif t == BOOLEAN:
            exprs.append(gen_boolean(s, prof.format, col_seed).alias(tmp))
        elif t == CATEGORICAL:
            if s.get("categories") and len(s["categories"]) > _MAX_INLINE:
                join_cols.append((tmp, prof, col_seed))
            else:
                exprs.append(gen_categorical(s, F.col(rand_cols[name])).alias(tmp))
        elif t == DATETIME:
            exprs.append(gen_datetime(s, prof.format, col_seed).alias(tmp))
        elif t in (EMAIL, PHONE):
            entries = s.get("raw_entries") or []
            if entries and len(entries) > 4 * _MAX_INLINE:
                join_cols.append((tmp, prof, col_seed))  # broadcast-join path
            elif entries:
                exprs.append(bootstrap_resample(entries, col_seed).alias(tmp))
            elif t == EMAIL:
                exprs.append(gen_email_fallback(col_seed).alias(tmp))
            else:
                exprs.append(gen_phone_fallback(col_seed).alias(tmp))
        elif t == TEXT:
            if "mean_vector" in s:
                # Embedding-backed MVN path — attached by
                # etl_processes_spark.text.gen_text_column post-hoc.
                join_cols.append((tmp, prof, col_seed))
            else:
                entries = s.get("raw_entries") or []
                if entries and len(entries) > 4 * _MAX_INLINE:
                    join_cols.append((tmp, prof, col_seed))
                elif entries:
                    exprs.append(bootstrap_resample(entries, col_seed).alias(tmp))
                else:
                    exprs.append(gen_unknown().alias(tmp))
        else:
            exprs.append(gen_unknown().alias(tmp))

    # keep the range id through the post-hoc stages: gen_text_column seeds
    # its per-row RNG by (seed, id) — deterministic under any partitioning
    out = frame.select(F.col("id"), *exprs) if exprs else frame
    for tmp, prof, col_seed in join_cols:
        if prof.logical_type == CATEGORICAL:
            out = gen_categorical_join(spark, out, tmp, prof.stats, col_seed)
        elif prof.logical_type == TEXT and "mean_vector" in prof.stats:
            from etl_processes_spark.text import gen_text_column

            out = gen_text_column(spark, out, tmp, prof, col_seed)
        else:
            from etl_processes_spark.generate.generators import bootstrap_resample_join

            out = bootstrap_resample_join(
                spark, out, tmp, prof.stats["raw_entries"], col_seed
            )
    # output columns in profile order under their real names; id + temps dropped
    return out.select(*[F.col(tmp_of[name]).alias(name) for name in profiles])


__all__ = ["generate", "DEFAULT_GEN_SEED"]
