"""Sources and sinks (SURVEY.md §2.1).

csv_scan / csv_sink mirror the reference's pd.read_csv / to_csv
(Latanova_v1.py:12, :705); report_sink mirrors the per-column console report
(:706-738); profile_sink/profile_source persist the ColumnProfile artifact
(the engine's "catalog") as JSON.

Scale notes: csv_sink coalesces to one partition — for small result exports
(the reference's semantic); bulk output stays partitioned parquet via
``parquet_sink``.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

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


def csv_sink(df: DataFrame, path: str) -> None:
    """to_csv(index=False) equivalent (Latanova_v1.py:705): one part file.
    Writes RFC4180 doubled-quote escapes so csv_scan (and pandas) read back
    verbatim."""
    df.coalesce(1).write.mode("overwrite").option("escape", '"').csv(path, header=True)


def parquet_sink(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


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


def orc_sink(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").orc(path)


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
