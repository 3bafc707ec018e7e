"""Multimodal column plumbing: image/audio/video as opaque ``binary`` columns
with typed metadata, processed via Arrow-batched mapInPandas.

Driver-mandated extension (no reference counterpart). Two kernels behind one
pinned contract:

- ``real_feature_kernel`` — REAL pure-numpy decoders for BMP 24-bit,
  PPM P6, WAV PCM16, (compressed) 8-bit non-interlaced PNG — zlib + five
  scanline filters, available without PIL — and baseline JPEG
  (``ops.jpeg``), + feature extraction (channel moments, luminance
  percentiles, edge energy / rms, zero-crossing rate, duration).
  Progressive JPEG and mp4 still require PIL/ffmpeg — undecodable payloads
  yield a zero vector, so one corrupt blob never kills a 1000-executor
  stage.
- ``_fake_features`` (``fake_decode=True``, default for the oracle-gated
  query) — deterministic Box-Muller-over-md5 stand-in that DuckDB can compute
  identically, which is what hash-gates the multimodal_features query.

Scale notes: media bytes stay in executor memory one Arrow batch at a time
(tune spark.sql.execution.arrow.maxRecordsPerBatch for large blobs); feature
outputs are small fixed-width vectors, so the shuffle after extraction
carries features, never raw media. Repartition by size-bucket before decode
to even out skew from mixed blob sizes.
"""

from __future__ import annotations

import hashlib
import struct

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


# ---------------------------------------------------------------------------
# REAL decode kernels — pure numpy/struct codecs decodable without
# PIL/ffmpeg: BMP (24-bit BI_RGB), PPM (binary P6), WAV (PCM16), and PNG
# (zlib inflate + the five scanline filters; 8-bit, non-interlaced);
# baseline JPEG lives in ``ops.jpeg``. Progressive JPEG, mp3 and mp4 still
# need external codecs; ``real_feature_kernel`` returns
# a zero vector for payloads it cannot decode — at scale one corrupt blob
# must not kill a 1000-executor stage.
# ---------------------------------------------------------------------------


def decode_bmp(b: bytes) -> np.ndarray | None:
    """24-bit uncompressed BMP → (h, w, 3) uint8 RGB, else None."""
    if len(b) < 54 or b[:2] != b"BM":
        return None
    data_off = struct.unpack_from("<I", b, 10)[0]
    w = struct.unpack_from("<i", b, 18)[0]
    h = struct.unpack_from("<i", b, 22)[0]
    bpp = struct.unpack_from("<H", b, 28)[0]
    comp = struct.unpack_from("<I", b, 30)[0]
    if bpp != 24 or comp != 0 or w <= 0 or h == 0:
        return None
    bottom_up, h = h > 0, abs(h)
    row_bytes = (w * 3 + 3) // 4 * 4
    if data_off + row_bytes * h > len(b):
        return None
    arr = (
        np.frombuffer(b, np.uint8, row_bytes * h, data_off)
        .reshape(h, row_bytes)[:, : w * 3]
        .reshape(h, w, 3)
    )
    if bottom_up:
        arr = arr[::-1]
    return arr[..., ::-1].copy()  # BGR → RGB


def decode_ppm(b: bytes) -> np.ndarray | None:
    """Binary PPM (P6, maxval ≤ 255) → (h, w, 3) uint8 RGB, else None."""
    if not b.startswith(b"P6"):
        return None
    # header = magic + 3 whitespace-separated ints, '#' comments allowed
    pos, fields = 2, []
    while len(fields) < 3 and pos < len(b):
        while pos < len(b) and b[pos : pos + 1].isspace():
            pos += 1
        if b[pos : pos + 1] == b"#":
            while pos < len(b) and b[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(b) and not b[pos : pos + 1].isspace():
            pos += 1
        if not b[start:pos].isdigit():
            return None
        fields.append(int(b[start:pos]))
    if len(fields) < 3 or pos >= len(b):
        return None
    w, h, maxval = fields
    pos += 1  # single whitespace byte after maxval
    if maxval > 255 or w <= 0 or h <= 0 or pos + w * h * 3 > len(b):
        return None
    return np.frombuffer(b, np.uint8, w * h * 3, pos).reshape(h, w, 3).copy()


def _png_unfilter(raw: bytes, w: int, h: int, nch: int) -> np.ndarray | None:
    """Undo PNG scanline filtering (spec §9: None/Sub/Up/Average/Paeth) on
    the inflated stream → (h, w, nch) uint8. None/Up/Sub vectorize (Sub is
    a mod-256 cumsum per channel lane); Average/Paeth are sequential in x
    by definition, so they fall back to a per-pixel loop — fine for the
    feature-extraction path, swap a PIL kernel for bulk thumbnailing."""
    stride = w * nch
    if len(raw) != h * (1 + stride):
        return None
    rows = np.frombuffer(raw, np.uint8).reshape(h, 1 + stride)
    ftypes, data = rows[:, 0], rows[:, 1:]
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        ft, cur = int(ftypes[y]), data[y]
        if ft == 0:  # None
            line = cur.copy()
        elif ft == 1:  # Sub: cumsum per channel lane, mod 256
            lanes = cur.reshape(w, nch).astype(np.uint64)
            line = (np.cumsum(lanes, axis=0) % 256).astype(np.uint8).reshape(stride)
        elif ft == 2:  # Up
            line = cur + prev
        elif ft in (3, 4):  # Average / Paeth: sequential in x
            line = np.zeros(stride, dtype=np.uint8)
            for x in range(w):
                for c in range(nch):
                    i = x * nch + c
                    a = int(line[i - nch]) if x > 0 else 0
                    b_ = int(prev[i])
                    if ft == 3:
                        pred = (a + b_) // 2
                    else:
                        c_ = int(prev[i - nch]) if x > 0 else 0
                        p = a + b_ - c_
                        pa, pb, pc = abs(p - a), abs(p - b_), abs(p - c_)
                        pred = a if pa <= pb and pa <= pc else (b_ if pb <= pc else c_)
                    line[i] = (int(cur[i]) + pred) & 0xFF
        else:
            return None
        out[y] = line
        prev = line
    return out.reshape(h, w, nch)


def decode_png(b: bytes) -> np.ndarray | None:
    """Pure-numpy PNG decode → (h, w, 3) uint8 RGB, else None. Scope: 8-bit
    depth, color types 0 (gray) / 2 (RGB) / 3 (palette) / 4 (gray+alpha) /
    6 (RGBA), non-interlaced — i.e. what the stock encoders emit. The
    container has no PIL, but PNG is zlib (available) + 5 scanline filters,
    so the most common compressed-image case decodes honestly. Alpha is
    dropped (features are RGB moments); interlaced (Adam7), 16-bit and
    malformed streams return None → the zero-vector contract."""
    import zlib

    if len(b) < 8 or b[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    pos, ihdr, plte, idat = 8, None, None, []
    while pos + 8 <= len(b):
        ln = struct.unpack_from(">I", b, pos)[0]
        ctype = b[pos + 4 : pos + 8]
        body = b[pos + 8 : pos + 8 + ln]
        if len(body) != ln:
            return None
        if ctype == b"IHDR":
            if ln != 13:
                return None
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            if ln % 3:
                return None
            plte = np.frombuffer(body, np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + ln  # length + type + payload + crc
    if ihdr is None or not idat:
        return None
    w, h, depth, color, comp, filt, interlace = ihdr
    nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    if (
        nch is None or depth != 8 or comp != 0 or filt != 0 or interlace != 0
        or w <= 0 or h <= 0 or w * h > 64_000_000
        or (color == 3 and plte is None)
    ):
        return None
    # Bound both the compressed input and the inflated output: a crafted
    # tiny IDAT can inflate to gigabytes (zlib bomb), and the IHDR pixel cap
    # alone does not bound decompress(). Expected inflated size is exactly
    # h * (1 filter byte + w*nch); anything past that is malformed → None.
    data = b"".join(idat)
    expected = h * (1 + w * nch)
    if len(data) > expected + (1 << 20):  # zlib never beats ~1000:1 on pixels
        return None
    try:
        dobj = zlib.decompressobj()
        raw = dobj.decompress(data, expected + 1)
        if len(raw) > expected or dobj.unconsumed_tail:
            return None  # inflates past the scanline size → bomb/corrupt
        raw += dobj.flush()
    except zlib.error:
        return None
    if len(raw) != expected:
        return None  # under- or over-sized stream → corrupt
    px = _png_unfilter(raw, w, h, nch)
    if px is None:
        return None
    if color == 2:
        return px.copy()
    if color == 6:
        return px[..., :3].copy()
    if color == 0:
        return np.repeat(px, 3, axis=2)
    if color == 4:
        return np.repeat(px[..., :1], 3, axis=2)
    # palette
    idx = px[..., 0]
    if idx.max(initial=0) >= len(plte):
        return None
    return plte[idx]


def decode_wav_pcm16(b: bytes) -> tuple[np.ndarray, int] | None:
    """RIFF/WAVE PCM16 → ((n_frames, channels) int16, sample_rate), else None."""
    if len(b) < 44 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos, rate, channels, data = 12, None, None, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        size = struct.unpack_from("<I", b, pos + 4)[0]
        body = b[pos + 8 : pos + 8 + size]
        if len(body) != size:
            # declared chunk size exceeds the buffer: truncated payload —
            # undecodable (zero vector), never features from a fragment
            return None
        if cid == b"fmt " and len(body) >= 16:
            fmt, channels, rate = struct.unpack_from("<HHI", body, 0)
            bits = struct.unpack_from("<H", body, 14)[0]
            if fmt != 1 or bits != 16:
                return None
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if not rate or data is None or not channels:  # rate=0 would divide by zero downstream
        return None
    n = len(data) // (2 * channels)
    if n == 0:
        return None  # empty/truncated data chunk: undecodable, NOT NaN features
    wave = np.frombuffer(data, "<i2", n * channels).reshape(n, channels)
    return wave, rate


def _image_features(img: np.ndarray, dim: int) -> np.ndarray:
    x = img.astype(np.float64) / 255.0
    h, w = img.shape[:2]
    lum = x @ np.array([0.299, 0.587, 0.114])
    out = np.zeros(dim)
    vals = [
        1.0,  # kind tag: image
        w,
        h,
        w / h,
        *x.reshape(-1, 3).mean(axis=0),
        *x.reshape(-1, 3).std(axis=0),
        *np.percentile(lum, [10, 50, 90]),
        float(np.abs(np.diff(lum, axis=1)).mean()) if w > 1 else 0.0,  # edge energy
        float(np.abs(np.diff(lum, axis=0)).mean()) if h > 1 else 0.0,
    ]
    out[: min(dim, len(vals))] = vals[:dim]
    return out


def _audio_features(wave: np.ndarray, rate: int, dim: int) -> np.ndarray:
    x = wave.astype(np.float64) / 32768.0
    mono = x.mean(axis=1)
    out = np.zeros(dim)
    zc = float(np.mean(np.abs(np.diff(np.signbit(mono))))) if len(mono) > 1 else 0.0
    vals = [
        2.0,  # kind tag: audio
        rate,
        wave.shape[1],
        len(mono) / rate,  # duration s
        float(np.sqrt(np.mean(mono**2))),  # rms
        float(np.abs(mono).max(initial=0.0)),  # peak
        zc,  # zero-crossing rate
        float(np.abs(mono).mean()),
        float(mono.std()),
        float(np.percentile(np.abs(mono), 90)) if len(mono) else 0.0,
    ]
    out[: min(dim, len(vals))] = vals[:dim]
    return out


def real_feature_kernel(content: bytes | None, dim: int = 16) -> np.ndarray:
    """REAL decode → feature-extract for BMP / PPM / PNG / baseline JPEG /
    WAV-PCM16, satisfying the pinned kernel contract: (dim,) float64,
    deterministic, None-safe, zero vector for undecodable bytes.
    Progressive JPEG and mp4 remain out of scope in this container — swap
    in a PIL/ffmpeg kernel on a cluster that has them; the Spark plumbing
    (extract_features) is unchanged either way."""
    if content is None:
        return np.zeros(dim)
    b = bytes(content)
    img = decode_bmp(b)
    if img is None:
        img = decode_ppm(b)
    if img is None:
        img = decode_png(b)
    if img is None and len(b) > 3 and b[:3] == b"\xff\xd8\xff":
        from etl_processes_spark.ops.jpeg import decode_jpeg_baseline

        img = decode_jpeg_baseline(b)
        if img is not None and img.ndim == 2:
            img = img[:, :, None].repeat(3, axis=2)
    if img is not None:
        return _image_features(img, dim)
    au = decode_wav_pcm16(b)
    if au is not None:
        return _audio_features(au[0], au[1], dim)
    return np.zeros(dim)




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


def extract_features(
    media: DataFrame,
    dim: int = FEATURE_DIM,
    fake_decode: bool = True,
    kernel=None,
) -> DataFrame:
    """media table → (media_id, kind, n_bytes, features[dim]) via
    mapInPandas. The batch iterator shape is exactly what a real decoder
    needs; only the kernel is swapped.

    KERNEL CONTRACT (pinned by tests/test_multimodal.py): a plain callable
    ``kernel(content: bytes | None) -> np.ndarray`` returning shape (dim,)
    float64, deterministic for equal bytes, defined for None (missing
    payload). Swap procedure on a cluster with codec libs installed::

        def pil_kernel(content):
            if content is None: return np.zeros(DIM)
            img = PIL.Image.open(io.BytesIO(content)) ...
        extract_features(media, dim=DIM, kernel=pil_kernel)

    The callable must be picklable (top-level function) — it ships to
    executors inside the mapInPandas closure. Nothing else changes: schema,
    Arrow batching, and partitioning are kernel-agnostic."""
    if kernel is None:
        kernel = (
            (lambda c: _fake_features(c, dim))
            if fake_decode
            else (lambda c: real_feature_kernel(c, dim))
        )

    def run(batches):
        for pdf in batches:
            feats = [np.asarray(kernel(c), dtype=np.float64).tolist() for c in pdf["content"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(c) if c is not None else 0 for c in pdf["content"]],
                    "features": feats,
                }
            )

    from etl_processes_spark.partitioning import widen

    # decode is per-row Python — a one-row-group source must not serialize
    # the whole decode pass onto one core (widen is a no-op for wide inputs)
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
