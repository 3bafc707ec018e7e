"""Sources and sinks (SURVEY.md §2.1).

csv_scan / csv_sink mirror the reference's pd.read_csv / to_csv
(Latanova_v1.py:12, :705); report_sink mirrors the per-column console report
(:706-738); profile_sink/profile_source persist the ColumnProfile artifact
(the engine's "catalog") as JSON.

Scale notes: csv_sink's ``single_file`` coalesces to one partition — only for
small result exports (the reference's semantic); bulk output stays
partitioned parquet via ``parquet_sink``.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_processes_spark.profile.types import ColumnProfile


def csv_scan(
    spark: SparkSession,
    path: str,
    header: bool = True,
    infer_schema: bool = True,
    multiline: bool = True,
) -> DataFrame:
    """spark.read.csv with pandas-parity parsing (Latanova_v1.py:12):
    RFC4180 doubled-quote escapes (escape='\"', not Spark's backslash
    default) and quoted fields that span newlines. Spark's multiLine=false
    default silently TRUNCATES such fields at the newline and sheds the
    continuation as a malformed row — measured on the reference fixture: 27
    of 500 feedback values came back truncated.

    Scale note: multiLine makes a single CSV file non-splittable (one task
    per file). Pass multiline=False for known newline-free data that must
    split, or better, land bulk data as parquet."""
    return (
        spark.read.option("multiLine", multiline)
        .option("escape", '"')
        .csv(path, header=header, inferSchema=infer_schema)
    )


def csv_sink(df: DataFrame, path: str, single_file: bool = True) -> None:
    """to_csv(index=False) equivalent (Latanova_v1.py:705). Writes RFC4180
    doubled-quote escapes so csv_scan (and pandas) read back verbatim."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("escape", '"').csv(path, header=True)


def parquet_sink(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def json_scan(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-lines source. Pass an explicit schema at scale — schema inference
    is a full extra pass over the data."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.json(path)


def json_sink(df: DataFrame, path: str, single_file: bool = False) -> None:
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").json(path)


def orc_scan(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def orc_sink(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def profile_sink(profiles: dict[str, ColumnProfile], path: str) -> None:
    """Persist the profile artifact as one JSON document."""
    with open(path, "w") as f:
        json.dump({name: json.loads(p.to_json()) for name, p in profiles.items()}, f, indent=1)


def profile_source(path: str) -> dict[str, ColumnProfile]:
    with open(path) as f:
        raw = json.load(f)
    return {
        name: ColumnProfile(d["name"], d["logical_type"], d.get("format"), d.get("stats", {}))
        for name, d in raw.items()
    }


def report_sink(
    profiles: dict[str, ColumnProfile], validation: dict[str, dict] | None = None
) -> str:
    """The reference's console report (Latanova_v1.py:706-738): per-column
    type/format/stat summary + type histogram. Returns the text (print it or
    log it); driver-side only — everything here is already aggregated."""
    lines = ["=== column profiles ==="]
    type_summary: dict[str, list[str]] = {}
    for name, p in profiles.items():
        type_summary.setdefault(p.logical_type, []).append(name)
        stat_bits = []
        for key in ("mean", "std", "true_probability", "n_categories", "n_samples"):
            if key in p.stats and not isinstance(p.stats[key], (list, dict)):
                v = p.stats[key]
                stat_bits.append(f"{key}={v:.4f}" if isinstance(v, float) else f"{key}={v}")
        fmt = f" format={p.format}" if p.format else ""
        lines.append(f"{name}: {p.logical_type}{fmt} | " + ", ".join(stat_bits))
        if validation and name in validation:
            lines.append(f"  validation: {validation[name]}")
    lines.append("=== type summary ===")
    for t, cols in sorted(type_summary.items()):
        lines.append(f"{t}: {len(cols)} column(s), e.g. {cols[0]}")
    return "\n".join(lines)


def clustered_sink(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    num_files: int | None = None,
) -> None:
    """Write parquet range-CLUSTERED on ``cluster_cols``: rows are range-
    partitioned so each output file owns a disjoint key range, then sorted
    within the file so every row group's min/max statistics are tight.

    Why this matters at 100 TB: parquet predicate pushdown prunes at
    file/row-group granularity using min/max stats — on randomly-laid-out
    data every file's range spans the whole domain and nothing prunes; on
    clustered data a point/range filter touches only the files whose range
    intersects it (the same effect a coarse index or Z-order gives for one
    key dimension). Cost: one range shuffle at write time, paid once,
    amortized over every subsequent selective scan.

    ``num_files`` defaults to the current shuffle parallelism. Disjointness
    of file ranges is pinned by tests via parquet footer statistics."""
    cols = [F.col(c) for c in cluster_cols]
    n = num_files or df.sparkSession.sparkContext.defaultParallelism
    (
        df.repartitionByRange(n, *cols)
        .sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def zorder_key_expr(bucket_cols: list[Column], bits: int) -> Column:
    """Interleave the low ``bits`` bits of the given bucket-index columns
    into one Morton (Z-order) key: bit i of column j lands at position
    i*len(cols)+j. Pure bitwise Column expressions — codegen'd, no UDF."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(bucket_cols):
            bit = F.shiftright(c, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * len(bucket_cols) + j))
    return z


def zorder_sink(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    bits: int = 8,
    num_files: int | None = None,
) -> None:
    """Write parquet Z-ORDERED on several columns at once: each cluster
    column is bucketized to 2^bits cells (robust 0.5/99.5-percentile
    scaling, outliers clamped to the edge cells) and the bucket bits are
    interleaved into a Morton key; files are range-partitioned and sorted
    by that key.

    Why over ``clustered_sink`` (single-dimension range clustering):
    range clustering gives tight min/max file statistics on the FIRST
    column only — a filter on any other column still scans everything.
    The Morton curve keeps every file inside a small hyper-rectangle of
    the bucket grid, so parquet min/max pruning works on ANY of the
    interleaved dimensions (the lakehouse OPTIMIZE ZORDER BY effect).
    Cost identical to clustered_sink: one range shuffle + in-file sort at
    write time, paid once."""
    if not 1 <= bits * len(cluster_cols) <= 63:
        raise ValueError(
            f"bits*len(cols) must fit a signed long, got {bits}x{len(cluster_cols)}"
        )
    qs = df.select(
        *[
            F.percentile_approx(F.col(c), F.array(F.lit(0.005), F.lit(0.995)), 10000)
            .alias(c)
            for c in cluster_cols
        ]
    ).first()
    n_cells = (1 << bits) - 2
    buckets = []
    for c in cluster_cols:
        # empty frame / all-NULL column: no percentile range to bucket on
        if qs[c] is None or qs[c][0] is None:
            raise ValueError(
                f"zorder_sink: cluster column {c!r} has no non-null values "
                "to derive a bucket range from (empty input?)"
            )
        lo, hi = float(qs[c][0]), float(qs[c][1])
        if not hi > lo:
            hi = lo + 1.0
        b = F.width_bucket(
            F.col(c).cast("double"), F.lit(lo), F.lit(hi), F.lit(n_cells)
        )
        buckets.append(
            F.least(F.greatest(b, F.lit(0)), F.lit((1 << bits) - 1)).cast("long")
        )
    n = num_files or df.sparkSession.sparkContext.defaultParallelism
    (
        df.withColumn("__z", zorder_key_expr(buckets, bits))
        .repartitionByRange(n, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def sharded_sink(
    df: DataFrame,
    path: str,
    rows_per_shard: int,
    order_col: str | None = None,
    manifest: bool = True,
) -> None:
    """Write the frame as bounded-size parquet SHARDS — the training-loader
    layout (webdataset/Mosaic-style): every file holds at most
    ``rows_per_shard`` rows, so loader workers can stripe shards without
    opening footers first. ``order_col`` (e.g. the shuffle_rank from
    shuffle_deterministic) makes shard boundaries follow a deterministic
    global order: shard k holds positions [k*rows, (k+1)*rows).

    A ``_manifest`` parquet subdir records (file, n_rows) per shard —
    loaders size their work queue from |manifest| rows instead of listing
    and footer-probing the directory (at 100 TB the listing alone is a
    metadata storm).

    Plan: with ``order_col`` this is ONE range-partitioned sort (the same
    cost shuffle_deterministic already pays — compose them by passing its
    rank column) sized so each partition holds one shard; without it, a
    round-robin repartition (no sort). ``maxRecordsPerFile`` caps any
    residual straggler partition."""
    if rows_per_shard <= 0:
        raise ValueError("rows_per_shard must be positive")
    # the count and the write both consume the (possibly expensive — a
    # global sort when composed with shuffle_deterministic) upstream plan:
    # persist so it executes once
    df = df.persist()
    try:
        n_rows = df.count()
        n_shards = max(1, -(-n_rows // rows_per_shard))
        if order_col is not None:
            out = df.repartitionByRange(
                n_shards, F.col(order_col)
            ).sortWithinPartitions(order_col)
        else:
            out = df.repartition(n_shards)
        (
            out.write.mode("overwrite")
            .option("maxRecordsPerFile", rows_per_shard)
            .parquet(path)
        )
    finally:
        df.unpersist()
    if manifest:
        spark = df.sparkSession
        files = (
            spark.read.parquet(path)
            .select(F.input_file_name().alias("file"))
            .groupBy("file")
            .agg(F.count(F.lit(1)).alias("n_rows"))
        )
        files.coalesce(1).write.mode("overwrite").parquet(path + "/_manifest")
