"""Fixture producers for the media and streaming tests: a synthetic media
table and a one-shot stream drain.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import types as T


# ---------------------------------------------------------------------------
# media: a deterministic synthetic media table
# ---------------------------------------------------------------------------

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),       # image|audio|video
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),       # images/video
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),    # audio/video
        T.StructField("content", T.BinaryType(), True),      # opaque payload
    ]
)


def make_fake_media_df(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic synthetic media table for tests: payload bytes derived
    from md5(media_id), metadata derived from the id."""
    rows = []
    for i in range(n):
        h = hashlib.md5(f"{seed}:{i}".encode()).digest()
        kind = ("image", "audio", "video")[i % 3]
        payload = (h * ((64 + i % 17) // len(h) + 1))[: 64 + i % 17]
        rows.append(
            (
                i,
                kind,
                {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}[kind],
                32 + (i % 8) * 16 if kind != "audio" else None,
                32 + (i % 5) * 16 if kind != "audio" else None,
                1000 * (i % 30 + 1) if kind != "image" else None,
                bytearray(payload),
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# streaming
# ---------------------------------------------------------------------------


def run_stream_once(stream_df: DataFrame, out_dir: str, checkpoint_dir: str) -> None:
    """Drain the stream once into parquet (availableNow batch-of-the-stream)."""
    (
        stream_df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
