"""Multimodal column plumbing: image/audio/video as opaque ``binary`` columns
with typed metadata, processed via Arrow-batched mapInPandas.

Driver-mandated extension (no reference counterpart). The feature kernel
``_fake_features`` is a deterministic Box-Muller-over-md5 stand-in for
decode→feature-extract that DuckDB can compute identically, which is what
hash-gates the multimodal_features query. No media codec ships: the
reference engine decodes no media, and nothing in the engine reads pixels
or samples.

Scale notes: media bytes stay in executor memory one Arrow batch at a time
(tune spark.sql.execution.arrow.maxRecordsPerBatch for large blobs); feature
outputs are small fixed-width vectors, so the shuffle after extraction
carries features, never raw media.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

def media_from_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_chars_col: str = "n_chars",
) -> DataFrame:
    """Deterministic media table DERIVED from the documents parquet: payload
    = utf-8 text bytes, kind/mime/dims/duration pure functions of the id and
    length. Every column is a plain expression over real testdata, so
    metadata-only operators over it (media_stats, frame_sample_plan) are
    SQL-expressible and hash-gated against DuckDB."""
    did = F.col(id_col)
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (did % 3).cast("int") + 1,
    )
    return docs.select(
        did.alias("media_id"),
        kind.alias("kind"),
        F.when(kind == "image", "image/png")
        .when(kind == "audio", "audio/wav")
        .otherwise("video/mp4")
        .alias("mime"),
        F.when(kind != "audio", (32 + (did % 8) * 16).cast("int")).alias("width"),
        F.when(kind != "audio", (32 + (did % 5) * 16).cast("int")).alias("height"),
        F.when(kind != "image", 1000 * (F.col(n_chars_col) % 30 + 1)).alias("duration_ms"),
        F.encode(F.col(text_col), "UTF-8").alias("content"),
    )


def _fake_features(content: bytes, dim: int) -> np.ndarray:
    """Deterministic stand-in for decode→feature-extract: Box-Muller normals
    over md5 hex slices of the payload (+1-byte block markers). Same
    signature/shape as a real embedding kernel — and computable identically
    in DuckDB when the payload is utf-8 text (md5(text || chr(k)) over
    VARCHAR hashes the same bytes), which is what hash-gates the
    multimodal_features query against the oracle."""
    import math

    if content is None:
        return np.zeros(dim)
    b = bytes(content)
    out = np.empty(dim)
    h1 = h2 = None
    for c in range(dim):
        block, j = divmod(c, 8)
        if j == 0:
            h1 = hashlib.md5(b + bytes([2 * block + 1])).hexdigest()
            h2 = hashlib.md5(b + bytes([2 * block + 2])).hexdigest()
        u1 = (int(h1[4 * j : 4 * j + 4], 16) + 0.5) / 65536.0
        u2 = (int(h2[4 * j : 4 * j + 4], 16) + 0.5) / 65536.0
        out[c] = math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.pi * u2)
    return out


FEATURE_DIM = 16

_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("features", T.ArrayType(T.DoubleType())),
    ]
)


def extract_features(media: DataFrame, dim: int = FEATURE_DIM) -> DataFrame:
    """media table → (media_id, kind, n_bytes, features[dim]) via
    mapInPandas, one ``_fake_features`` vector of shape (dim,) per payload
    (a zero vector for a missing payload)."""

    def run(batches):
        for pdf in batches:
            feats = [_fake_features(c, dim).tolist() for c in pdf["content"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(c) if c is not None else 0 for c in pdf["content"]],
                    "features": feats,
                }
            )

    from etl_processes_spark.partitioning import widen

    # the kernel is per-row Python — a one-row-group source must not
    # serialize the whole pass onto one core (widen is a no-op for wide inputs)
    return widen(media).mapInPandas(run, schema=_FEATURE_SCHEMA)


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling PLAN: one output row per (media_id, frame_ts_ms)
    — pure Spark (sequence + explode), no decode needed to build the work
    list. A real pipeline joins this plan back to content and decodes only
    the sampled frames."""
    vids = media.filter(F.col("kind") == "video")
    # duration <= 0 is an empty plan, not a sequence(0, -1) runtime error
    frames = F.when(
        F.col("duration_ms") >= 1,
        F.sequence(F.lit(0).cast("long"), (F.col("duration_ms") - 1).cast("long"),
                   F.lit(every_ms).cast("long")),
    ).otherwise(F.array().cast("array<long>"))
    return vids.select("media_id", F.explode(frames).alias("frame_ts_ms"))


def media_stats(media: DataFrame) -> DataFrame:
    """Per-kind payload stats — metadata-only, never touches content bytes
    beyond length (column pruning keeps the binary column unread when the
    source format supports it)."""
    return media.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.length("content")).alias("total_bytes"),
        F.avg(F.length("content")).alias("avg_bytes"),
        F.avg("duration_ms").alias("avg_duration_ms"),
    )
