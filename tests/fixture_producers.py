"""Fixture producers for the decoder, media and streaming tests: a baseline
JPEG encoder, PNG/BMP encoders, a synthetic media table and a one-shot
stream drain. They make test inputs; the library only ever decodes.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from etl_processes_spark.ops.jpeg import _C, _ZZ, _canonical_codes


# ---------------------------------------------------------------------------
# baseline JPEG encoder: 4:4:4 or 4:2:0, quality-scaled Annex-K style
# quantization, canonical Huffman tables embedded in DHT (so the decoder's
# table handling, not a shared constant, is what round-trips)
# ---------------------------------------------------------------------------

# base quantization tables (the widely published example tables; scaled by
# quality below — the decoder never uses these, it reads DQT from the file)
_Q_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.float64)
_Q_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.float64)


def _quality_scale(q_base: np.ndarray, quality: int) -> np.ndarray:
    quality = max(1, min(100, quality))
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    t = np.floor((q_base * s + 50) / 100)
    return np.clip(t, 1, 255)


def _build_huffman(freqs: dict[int, int]) -> tuple[list[int], list[int]]:
    """Length-limited (16-bit) canonical Huffman spec (BITS, HUFFVAL) from
    symbol frequencies — the JPEG Annex-K flavor: reserve one code so no
    symbol gets the all-ones code."""
    freqs = dict(freqs)
    freqs[256] = 1  # the reserved symbol that absorbs the all-ones code
    # plain Huffman by merging; depth capped afterwards by the standard
    # "adjust BITS" procedure
    nodes = [(f, [s]) for s, f in freqs.items()]
    lengths: dict[int, int] = {s: 0 for s in freqs}
    while len(nodes) > 1:
        # tie-break: the node holding the reserved symbol 256 merges FIRST
        # at equal frequency, so 256 always ends at the deepest code length
        # and the all-1-bits code (reserved by ISO 10918-1 for baseline
        # tables) is guaranteed to land on it, never on a real symbol —
        # libjpeg's "V=256 takes the longest code" guarantee
        nodes.sort(key=lambda t: (t[0], 0 if 256 in t[1] else 1))
        (f1, s1), (f2, s2) = nodes[0], nodes[1]
        for s in s1 + s2:
            lengths[s] += 1
        nodes = nodes[2:] + [(f1 + f2, s1 + s2)]
    bits = [0] * 33
    for s, ln in lengths.items():
        bits[max(ln, 1)] += 1
    # K.3 adjust: fold codes deeper than 16 back up
    i = 32
    while i > 16:
        while bits[i] > 0:
            j = i - 2
            while bits[j] == 0:
                j -= 1
            bits[i] -= 2
            bits[i - 1] += 1
            bits[j + 1] += 2
            bits[j] -= 1
        i -= 1
    # drop the reserved symbol from the longest used length
    i = 16
    while bits[i] == 0:
        i -= 1
    bits[i] -= 1
    by_len = sorted(
        (ln, s) for s, ln in lengths.items() if s != 256
    )
    huffval = [s for _, s in by_len]
    out_bits = bits[1:17]
    # recompute exact per-symbol lengths from the adjusted BITS
    return out_bits, huffval


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.buf = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.buf = (self.buf << length) | code
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.buf >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8
            self.buf &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec


def _size_cat(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _block_symbols(blocks_q: np.ndarray, preds: np.ndarray):
    """Yield per-block (dc_size, dc_bits, [(rs, s, bits)...]) symbol streams
    from quantized zigzag blocks; preds carries the running DC predictor."""
    out = []
    for i in range(len(blocks_q)):
        zz = blocks_q[i][_ZZ]
        diff = int(zz[0]) - int(preds[0])
        preds[0] = int(zz[0])
        s = _size_cat(diff)
        dc_bits = diff if diff >= 0 else diff + (1 << s) - 1
        acs = []
        run = 0
        nz = np.nonzero(zz[1:])[0]
        last = nz[-1] + 1 if len(nz) else 0
        for k in range(1, last + 1):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                acs.append((0xF0, 0, 0))
                run -= 16
            sz = _size_cat(v)
            bits = v if v >= 0 else v + (1 << sz) - 1
            acs.append(((run << 4) | sz, sz, bits))
            run = 0
        if last < 63:
            acs.append((0x00, 0, 0))  # EOB
        out.append((s, dc_bits, acs))
    return out


def _to_blocks(plane: np.ndarray) -> np.ndarray:
    """(H, W) float64 (multiple of 8) -> (n, 8, 8) in raster block order."""
    H, W = plane.shape
    return (
        plane.reshape(H // 8, 8, W // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )


def encode_jpeg_baseline(
    img: np.ndarray, quality: int = 85, subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """uint8 (h, w) grayscale or (h, w, 3) RGB -> baseline JFIF bytes.
    ``subsampling``: "444" (one MCU = one block per component) or "420"
    (2x2 luma blocks per MCU, chroma averaged 2x2). Huffman tables are
    built from the image's own symbol frequencies and embedded in DHT."""
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, nch = img.shape
    gray = nch == 1
    f = img.astype(np.float64)
    if gray:
        comps_full = [f[:, :, 0]]
    else:
        r, g, bl = f[:, :, 0], f[:, :, 1], f[:, :, 2]
        Y = 0.299 * r + 0.587 * g + 0.114 * bl
        Cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * bl
        Cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * bl
        comps_full = [Y, Cb, Cr]
    sub = (2, 2) if (subsampling == "420" and not gray) else (1, 1)
    hmax, vmax = (sub if not gray else (1, 1))
    if gray:
        samp = [(1, 1)]
    elif subsampling == "420":
        samp = [(2, 2), (1, 1), (1, 1)]
    else:
        samp = [(1, 1), (1, 1), (1, 1)]
        hmax = vmax = 1

    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    pw, ph = -(-w // mcu_w) * mcu_w, -(-h // mcu_h) * mcu_h

    def pad(p: np.ndarray, th: int, tw: int) -> np.ndarray:
        return np.pad(p, ((0, th - p.shape[0]), (0, tw - p.shape[1])), mode="edge")

    qluma = _quality_scale(_Q_LUMA, quality)
    qchroma = _quality_scale(_Q_CHROMA, quality)
    qtabs = [qluma] + ([] if gray else [qchroma])

    comp_blocks = []
    for ci, plane in enumerate(comps_full):
        ch, cv = samp[ci]
        if ch < hmax or cv < vmax:
            # average-pool chroma down by the sampling ratio
            fy, fx = vmax // cv, hmax // ch
            p = pad(plane, ph, pw)
            p = p.reshape(p.shape[0] // fy, fy, p.shape[1] // fx, fx).mean(axis=(1, 3))
        else:
            p = pad(plane, ph * cv // vmax, pw * ch // hmax)
        q = qtabs[0] if ci == 0 else qtabs[1]
        blocks = _to_blocks(p - 128.0)
        F = np.einsum("ux,nxy,vy->nuv", _C, blocks, _C)
        comp_blocks.append(np.round(F.reshape(-1, 64) / q[None, :]).astype(np.int64))

    # MCU-ordered symbol streams (per component, raster of its own blocks
    # re-walked in MCU order)
    mcux, mcuy = pw // mcu_w, ph // mcu_h
    streams = []  # per component: list of per-block symbol tuples in MCU order
    for ci, blocks_q in enumerate(comp_blocks):
        ch, cv = samp[ci]
        bw = mcux * ch
        order = [
            (my * cv + v) * bw + (mx * ch + hh)
            for my in range(mcuy)
            for mx in range(mcux)
            for v in range(cv)
            for hh in range(ch)
        ]
        # restart intervals reset the DC predictor: regenerate symbols per
        # restart segment
        blocks_mcu = blocks_q[order]
        streams.append(blocks_mcu)

    n_mcu = mcux * mcuy
    blocks_per_mcu = [cv * ch for (ch, cv) in samp]

    def symbolize():
        """Per-component symbol lists in MCU order, predictors resetting at
        restart boundaries."""
        preds = [np.zeros(1, dtype=np.int64) for _ in samp]
        offs = [0] * len(samp)
        all_syms: list[list] = [[] for _ in samp]
        for mcu in range(n_mcu):
            if restart_interval and mcu and mcu % restart_interval == 0:
                preds = [np.zeros(1, dtype=np.int64) for _ in samp]
            for ci in range(len(samp)):
                nb = blocks_per_mcu[ci]
                blk = streams[ci][offs[ci] : offs[ci] + nb]
                all_syms[ci].extend(_block_symbols(blk, preds[ci]))
                offs[ci] += nb
        return all_syms

    all_syms = symbolize()

    # frequencies -> two table pairs (luma: component 0; chroma: the rest)
    def freqs_for(cis):
        dc: dict[int, int] = {}
        ac: dict[int, int] = {}
        for ci in cis:
            for s, _, acs in all_syms[ci]:
                dc[s] = dc.get(s, 0) + 1
                for rs, _, _ in acs:
                    ac[rs] = ac.get(rs, 0) + 1
        if not dc:
            dc = {0: 1}
        if not ac:
            ac = {0: 1}
        return dc, ac

    luma_dc_f, luma_ac_f = freqs_for([0])
    tables = {(0, 0): _build_huffman(luma_dc_f), (1, 0): _build_huffman(luma_ac_f)}
    if not gray:
        chroma_dc_f, chroma_ac_f = freqs_for([1, 2])
        tables[(0, 1)] = _build_huffman(chroma_dc_f)
        tables[(1, 1)] = _build_huffman(chroma_ac_f)
    enc = {k: _canonical_codes(list(bits), list(vals)) for k, (bits, vals) in tables.items()}

    # ---- emit segments ----
    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tq, q in enumerate(qtabs):
        out += bytes([0xFF, 0xDB, 0x00, 0x43, tq])
        out += bytes(int(x) for x in q[_ZZ])
    # SOF0
    nc = 1 if gray else 3
    sof = bytearray([0xFF, 0xC0, 0x00, 8 + 3 * nc, 8, h >> 8, h & 0xFF, w >> 8, w & 0xFF, nc])
    for ci in range(nc):
        ch, cv = samp[ci]
        sof += bytes([ci + 1, (ch << 4) | cv, 0 if ci == 0 else 1])
    out += sof
    for (tc, th), (bits, vals) in sorted(tables.items()):
        out += bytes([0xFF, 0xC4]) + (19 + len(vals)).to_bytes(2, "big")
        out += bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
    if restart_interval:
        out += bytes([0xFF, 0xDD, 0x00, 0x04]) + restart_interval.to_bytes(2, "big")
    sos = bytearray([0xFF, 0xDA, 0x00, 6 + 2 * nc, nc])
    for ci in range(nc):
        th = 0 if ci == 0 else 1
        sos += bytes([ci + 1, (th << 4) | th])
    sos += bytes([0, 63, 0])
    out += sos

    # entropy-coded data
    offs = [0] * len(samp)
    writer = _BitWriter()
    rst = 0
    for mcu in range(n_mcu):
        if restart_interval and mcu and mcu % restart_interval == 0:
            writer.flush()
            out += writer.out
            out += bytes([0xFF, 0xD0 + (rst % 8)])
            rst += 1
            writer = _BitWriter()
        for ci in range(len(samp)):
            th = 0 if ci == 0 else 1
            dc_codes, ac_codes = enc[(0, th)], enc[(1, th)]
            for _ in range(blocks_per_mcu[ci]):
                s, dc_bits, acs = all_syms[ci][offs[ci]]
                offs[ci] += 1
                code, ln = dc_codes[s]
                writer.write(code, ln)
                if s:
                    writer.write(dc_bits, s)
                for rs, sz, bits_v in acs:
                    code, ln = ac_codes[rs]
                    writer.write(code, ln)
                    if sz:
                        writer.write(bits_v, sz)
    writer.flush()
    out += writer.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# media: PNG and BMP encoders (inverses of decode_png / decode_bmp) and a
# deterministic synthetic media table
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


def encode_png(img: np.ndarray, filters: str = "none") -> bytes:
    """(h, w, 3) uint8 RGB → non-interlaced 8-bit RGB PNG. ``filters``:
    "none" (filter 0 rows) or "mixed" (cycles Sub/Up/Average/Paeth/None —
    exists to exercise every decoder filter path in tests; a size-optimal
    encoder would pick per-row minimums). Inverse of decode_png."""
    import zlib

    h, w = img.shape[:2]
    nch = 3
    lines = []
    prev = np.zeros(w * nch, dtype=np.uint8)
    for y in range(h):
        line = img[y].reshape(-1)
        ft = 0 if filters == "none" else (y % 5 + 1) % 5  # 1,2,3,4,0,...
        if ft == 0:
            res = line.copy()
        elif ft == 1:  # Sub
            res = line - np.concatenate([np.zeros(nch, np.uint8), line[:-nch]])
        elif ft == 2:  # Up
            res = line - prev
        elif ft == 3:  # Average
            left = np.concatenate([np.zeros(nch, np.uint8), line[:-nch]])
            res = line - ((left.astype(np.uint16) + prev.astype(np.uint16)) // 2).astype(np.uint8)
        else:  # Paeth
            res = np.empty_like(line)
            for x in range(w):
                for c in range(nch):
                    i = x * nch + c
                    a = int(line[i - nch]) if x > 0 else 0
                    b_ = int(prev[i])
                    c_ = int(prev[i - nch]) if x > 0 else 0
                    p = a + b_ - c_
                    pa, pb, pc = abs(p - a), abs(p - b_), abs(p - c_)
                    pred = a if pa <= pb and pa <= pc else (b_ if pb <= pc else c_)
                    res[i] = (int(line[i]) - pred) & 0xFF
        lines.append(bytes([ft]) + res.tobytes())
        prev = line
    raw = zlib.compress(b"".join(lines), 6)

    def chunk(ctype: bytes, body: bytes) -> bytes:
        import zlib as _z

        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", _z.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", raw)
        + chunk(b"IEND", b"")
    )


def encode_bmp(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → 24-bit bottom-up BI_RGB BMP bytes (the inverse
    of decode_bmp: decode_bmp(encode_bmp(x)) == x)."""
    h, w = img.shape[:2]
    row_bytes = (w * 3 + 3) // 4 * 4
    body = np.zeros((h, row_bytes), dtype=np.uint8)
    body[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up, RGB→BGR
    data = body.tobytes()
    header = struct.pack(
        "<2sIHHIIiiHHIIiiII",
        b"BM", 54 + len(data), 0, 0, 54,
        40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0,
    )
    return header + data


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
