"""The benchmark's workloads: how each grows its inputs from the seed, runs
one user flow, and checks that flow's output.

A workload object is built once per process. ``run(spark, tracer)`` is the
timed flow; with a tracer it also records spans around each layer it calls.
``check(spark, result)`` runs after the timing and returns the failed checks
(an empty list means the run is correct) and a digest of the output, or
None where the output is not meant to repeat; ``release(result)`` frees
what the run left cached.
"""

from __future__ import annotations

import hashlib
import importlib.util
from contextlib import nullcontext
from pathlib import Path

import pyarrow.parquet as pq

INPUT_TABLES = ("documents", "embeddings")


def make_inputs(root: Path, out_dir: Path, sf: float, seed: int) -> dict:
    """Grow the documents and embeddings tables with the repository's
    ``tools/gen_testdata.py`` and record their row counts and a digest of
    their bytes."""
    spec = importlib.util.spec_from_file_location(
        "gen_testdata", root / "tools" / "gen_testdata.py")
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    gen.generate(sf, str(out_dir), seed, only=set(INPUT_TABLES))
    digest, rows = hashlib.sha256(), {}
    for name in INPUT_TABLES:
        path = out_dir / f"{name}.parquet"
        digest.update(name.encode())
        digest.update(path.read_bytes())
        rows[name] = pq.ParquetFile(path).metadata.num_rows
    return {"dir": str(out_dir), "rows": rows, "digest": digest.hexdigest()}


def _materialize(df):
    # generate() is lazy: without this its work would be charged to the
    # first validate job that reads the synthetic frame
    df = df.persist()
    df.count()
    return df


class SynthBulk:
    """profile -> generate -> validate -> CSV sink on the documents table."""

    name = "synth_bulk"
    sizes = {"full": {"sf": 0.01, "n": 10_000}, "tiny": {"sf": 0.002, "n": 500}}
    # a numeric column's synthetic mean may miss the source mean by this
    # share of the source std
    MEAN_TOL = 0.1
    # most_common_match is required where the source's top category leads
    # the runner-up by this share of rows; closer leads can flip by chance
    MODE_LEAD = 0.05

    def __init__(self, size: str, inputs: dict, out_dir: Path) -> None:
        self.n = self.sizes[size]["n"]
        self.src = str(Path(inputs["dir"]) / "documents.parquet")
        self.csv = str(out_dir / "synthetic_csv")
        table = pq.read_table(self.src).to_pandas().dropna()
        self.columns = list(table.columns)
        self.work = self.n
        self.source_std = {
            c: float(table[c].std(ddof=0))
            for c in table.columns if table[c].dtype.kind in "iuf"}
        self.clear_mode = set()
        for c in table.columns:
            if table[c].dtype == object:
                share = table[c].value_counts(normalize=True).tolist()
                if len(share) > 1 and share[0] - share[1] >= self.MODE_LEAD:
                    self.clear_mode.add(c)

    def run(self, spark, tracer=None):
        from etl_processes_spark import pipeline, text

        traced = tracer.patched([
            (pipeline, "profile", "profile", True, None),
            (pipeline, "generate", "generate", True, _materialize),
            (pipeline, "validate", "validate", True, None),
            (pipeline, "csv_sink", "io.sink", True, None),
            (text, "text_profile", "text", False, None),
            (text, "gen_text_column", "text", False, None),
        ]) if tracer else nullcontext()
        with traced:
            synthetic, validation, _ = pipeline.run_reference_pipeline(
                spark, self.src, output_csv=self.csv, n_samples=self.n)
        return synthetic, validation

    def check(self, spark, result) -> tuple[list[str], None]:
        from etl_processes_spark.io import csv_scan

        synthetic, validation = result
        fails = []
        rows = synthetic.count()
        if rows != self.n:
            fails.append(f"synthetic rows {rows} != n {self.n}")
        if synthetic.columns != self.columns:
            fails.append(f"synthetic columns {synthetic.columns} != {self.columns}")
        for c, v in validation.items():
            if "error" in v:
                fails.append(f"validate {c}: {v['error']}")
            elif c in self.source_std and not (
                    v["mean_error"] <= self.MEAN_TOL * self.source_std[c]):
                fails.append(f"validate {c}: mean_error {v['mean_error']:.4g} > "
                             f"{self.MEAN_TOL} x std {self.source_std[c]:.4g}")
            elif c in self.clear_mode and not v.get("most_common_match"):
                fails.append(f"validate {c}: most common category differs")
        back = csv_scan(spark, self.csv).count()
        if back != self.n:
            fails.append(f"CSV read back {back} rows != n {self.n}")
        return fails, None

    def release(self, result) -> None:
        result[0].unpersist()


class CurateCorpus:
    """The full training-data curation flow over documents + embeddings,
    written with ``io.parquet_sink``."""

    name = "curate_corpus"
    sizes = {"full": {"sf": 0.01}, "tiny": {"sf": 0.002}}
    PACK_BUDGET = 2048
    # pipeline stage (as reported to stage_hook) -> layer span name
    STAGE_LAYERS = {
        "span_dedup": "dedup.span",
        "cluster_dedup": "dedup.cluster",
        "semantic_dedup": "similarity.semantic",
        "score_filter": "textstats.score",
        "pack": "pack",
    }

    def __init__(self, size: str, inputs: dict, out_dir: Path) -> None:
        self.docs = str(Path(inputs["dir"]) / "documents.parquet")
        self.emb = str(Path(inputs["dir"]) / "embeddings.parquet")
        self.out = str(out_dir / "curated")
        self.work = inputs["rows"]["documents"]

    def run(self, spark, tracer=None) -> str:
        from pyspark.sql import functions as F

        from etl_processes_spark.io import parquet_sink
        from etl_processes_spark.pipeline import run_training_data_pipeline

        docs = spark.read.parquet(self.docs)
        emb = spark.read.parquet(self.emb).select(
            F.col("vec_id").alias("doc_id"), "embedding")
        kwargs = dict(
            min_quality=0.0, langs=("en", "zh", "es", "fr", "de"),
            pack_budget=self.PACK_BUDGET, near_dup_threshold=0.5, max_df=500,
            scrub_pii=True, span_dedup_k=5, span_dedup_min_df=2,
            semantic_embeddings=emb, semantic_threshold=0.95,
        )
        # manage_storage=True is the default without a hook; with the
        # tracer's hook it keeps the same storage lifecycle
        with tracer.stage_spans(self.STAGE_LAYERS) if tracer else nullcontext() as hook:
            out = run_training_data_pipeline(
                spark, docs, stage_hook=hook, manage_storage=True, **kwargs)
        with tracer.span("io.sink", counters=True) if tracer else nullcontext():
            parquet_sink(out, self.out)
        return self.out

    def check(self, spark, result: str) -> tuple[list[str], str]:
        """The flow is deterministic for a given corpus, so the caller
        requires the returned digest to repeat."""
        from pyspark.sql import functions as F

        df = spark.read.parquet(result)
        cols = sorted(df.columns)
        row = df.agg(
            F.count(F.lit(1)).alias("rows"),
            F.countDistinct("doc_id").alias("ids"),
            F.sum(F.xxhash64(*cols)).alias("h"),
            F.min("offset_in_bin").alias("lo"),
            F.max("offset_in_bin").alias("hi"),
        ).first()
        fails = []
        if not row["rows"]:
            fails.append("curated corpus is empty")
        if row["ids"] != row["rows"]:
            fails.append(f"{row['rows'] - row['ids']} duplicate doc ids")
        # the packer's budget: every document starts inside its bin (only
        # the one straddling a boundary may run past it)
        if row["rows"] and not 0 <= row["lo"] <= row["hi"] < self.PACK_BUDGET:
            fails.append(f"offset_in_bin spans [{row['lo']}, {row['hi']}], "
                         f"outside [0, {self.PACK_BUDGET})")
        return fails, f"{row['rows']}:{row['h']}"

    def release(self, result) -> None:
        pass


WORKLOADS = {w.name: w for w in (SynthBulk, CurateCorpus)}

