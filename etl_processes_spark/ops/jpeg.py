"""Pure-numpy baseline JPEG (JFIF) decoder for the multimodal feature
kernels — closes the most common real-world image format without PIL
(absent in this container). Reference parity note: the reference engine has
no media decode at all; this backs the driver-mandated multimodal extension
(SURVEY.md §2 extensions).

Scope (the honest contract, same as decode_png):
 - DECODE: baseline DCT (SOF0), 8-bit, grayscale or YCbCr with 1x1/2x1/
   1x2/2x2 sampling factors (4:4:4, 4:2:2, 4:4:0, 4:2:0), restart
   intervals. Huffman + quantization tables are read from the FILE (DHT/
   DQT), so files from any conforming encoder decode. Progressive (SOF2),
   arithmetic coding, 12-bit precision, lossless and malformed streams
   return None — the corrupt-blob-never-kills-the-stage contract.
 - No encoder: the library only decodes.

Everything is vectorized per 8x8-block batch: the IDCT is two GEMMs over
the whole block stack, and entropy decode builds a 16-bit prefix LUT
per Huffman table so the bit loop does O(1) work per symbol.
"""

from __future__ import annotations

import numpy as np

# zigzag order: index i of the scan -> (row, col) flat position in the 8x8
_ZZ = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# orthonormal DCT-II matrix: FDCT of block B is C @ B @ C.T, IDCT is C.T@F@C
_C = np.zeros((8, 8))
for _u in range(8):
    for _x in range(8):
        _C[_u, _x] = 0.5 * (1.0 / np.sqrt(2.0) if _u == 0 else 1.0) * np.cos(
            (2 * _x + 1) * _u * np.pi / 16.0
        )


# ---------------------------------------------------------------------------
# Huffman: canonical code construction from a DHT spec, and the decoder's
# 16-bit prefix LUT over it.
# ---------------------------------------------------------------------------


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) for a JPEG BITS/HUFFVAL spec. Raises on an
    over-full tree (invalid table)."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            if code >= (1 << length):
                raise ValueError("huffman tree over-full")
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _decode_lut(bits: list[int], vals: list[int]) -> tuple[np.ndarray, np.ndarray]:
    """(symbol, length) arrays of size 2^16 indexed by the next 16 bits of
    the stream; length 0 marks an invalid prefix."""
    sym = np.zeros(1 << 16, dtype=np.int16)
    ln = np.zeros(1 << 16, dtype=np.int8)
    codes = _canonical_codes(bits, vals)
    for v, (code, length) in codes.items():
        lo = code << (16 - length)
        hi = lo + (1 << (16 - length))
        sym[lo:hi] = v
        ln[lo:hi] = length
    return sym, ln


def _extend(v: int, size: int) -> int:
    """JPEG EXTEND: map a `size`-bit magnitude to its signed value."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


class _BitReader:
    """MSB-first bit reader over pre-unstuffed scan bytes."""

    __slots__ = ("data", "pos", "buf", "nbits", "pad_bits")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.buf = 0
        self.nbits = 0
        self.pad_bits = 0

    def _fill(self) -> None:
        while self.nbits <= 48:
            if self.pos < len(self.data):
                self.buf = (self.buf << 8) | self.data[self.pos]
                self.pos += 1
            else:
                self.buf <<= 8  # zero padding past the end
                self.pad_bits += 8
            self.nbits += 8

    def peek16(self) -> int:
        if self.nbits < 16:
            self._fill()
        return (self.buf >> (self.nbits - 16)) & 0xFFFF

    def skip(self, n: int) -> None:
        self.nbits -= n
        self.buf &= (1 << self.nbits) - 1 if self.nbits else 0

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        if self.nbits < n:
            self._fill()
        v = (self.buf >> (self.nbits - n)) & ((1 << n) - 1)
        self.skip(n)
        return v

    def overran(self) -> bool:
        """True when decoding CONSUMED synthesized pad bits beyond the last
        real byte (a truncated entropy stream) — up to 7 trailing pad bits
        inside the final byte are legitimate encoder flush, anything past
        one full pad byte is corruption."""
        return self.pad_bits - self.nbits > 7


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


def decode_jpeg_baseline(b: bytes) -> np.ndarray | None:
    """Baseline JFIF/JPEG -> uint8 image ((h, w) grayscale or (h, w, 3)
    RGB). None for progressive/arithmetic/12-bit/unsupported-sampling or
    malformed input — never raises on hostile bytes."""
    try:
        return _decode_jpeg(b)
    except Exception:
        return None


_MAX_PIXELS = 64_000_000  # same hostile-header cap class as decode_png


def _decode_jpeg(b: bytes) -> np.ndarray | None:
    if len(b) < 4 or b[0] != 0xFF or b[1] != 0xD8:  # SOI
        return None
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}
    frame = None
    restart_interval = 0
    i = 2
    n = len(b)
    while i + 4 <= n:
        if b[i] != 0xFF:
            return None
        marker = b[i + 1]
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7:  # stray SOI/RST
            i += 2
            continue
        if marker == 0xD9:  # EOI before SOS
            return None
        seg_len = (b[i + 2] << 8) | b[i + 3]
        if seg_len < 2 or i + 2 + seg_len > n:
            return None
        seg = b[i + 4 : i + 2 + seg_len]
        if marker == 0xDB:  # DQT
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 0x0F
                if pq != 0:  # 16-bit tables: out of baseline scope
                    return None
                if j + 65 > len(seg):
                    return None
                tbl = np.frombuffer(seg[j + 1 : j + 65], dtype=np.uint8).astype(
                    np.float64
                )
                dq = np.empty(64)
                dq[_ZZ] = tbl  # stored in zigzag order
                qt[tq] = dq
                j += 65
        elif marker == 0xC4:  # DHT
            j = 0
            while j + 17 <= len(seg):
                tc, th = seg[j] >> 4, seg[j] & 0x0F
                bits = list(seg[j + 1 : j + 17])
                nv = sum(bits)
                if j + 17 + nv > len(seg):
                    return None
                vals = list(seg[j + 17 : j + 17 + nv])
                huff[(tc, th)] = _decode_lut(bits, vals)
                j += 17 + nv
        elif marker == 0xC0 or marker == 0xC1:  # baseline / ext. sequential
            if seg[0] != 8:  # bit precision
                return None
            h = (seg[1] << 8) | seg[2]
            w = (seg[3] << 8) | seg[4]
            nc = seg[5]
            if h == 0 or w == 0 or h * w > _MAX_PIXELS or nc not in (1, 3):
                return None
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c], seg[7 + 3 * c], seg[8 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq})
            frame = {"h": h, "w": w, "comps": comps}
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            return None  # progressive / arithmetic / hierarchical / lossless
        elif marker == 0xDD:  # DRI
            restart_interval = (seg[0] << 8) | seg[1]
        elif marker == 0xDA:  # SOS — scan follows
            if frame is None:
                return None
            ns = seg[0]
            scan_comps = []
            for c in range(ns):
                cs, tables = seg[1 + 2 * c], seg[2 + 2 * c]
                scan_comps.append((cs, tables >> 4, tables & 0x0F))
            return _decode_scan(
                b, i + 2 + seg_len, frame, scan_comps, qt, huff, restart_interval
            )
        # all other markers (APPn, COM): skip
        i += 2 + seg_len
    return None


def _split_unstuff(b: bytes, start: int) -> list[bytes]:
    """Entropy-coded segments between restart markers, 0xFF00-unstuffed.
    Stops at EOI or any non-RST marker."""
    segs: list[bytes] = []
    cur = bytearray()
    i = start
    n = len(b)
    while i < n:
        byte = b[i]
        if byte != 0xFF:
            cur.append(byte)
            i += 1
            continue
        if i + 1 >= n:
            break
        nxt = b[i + 1]
        if nxt == 0x00:
            cur.append(0xFF)
            i += 2
        elif 0xD0 <= nxt <= 0xD7:  # RSTn
            segs.append(bytes(cur))
            cur = bytearray()
            i += 2
        else:  # EOI or next segment
            break
    segs.append(bytes(cur))
    return segs


def _decode_scan(b, start, frame, scan_comps, qt, huff, restart_interval):
    h, w, comps = frame["h"], frame["w"], frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if not (1 <= hmax <= 2 and 1 <= vmax <= 2):
        return None
    for c in comps:
        if c["h"] not in (1, 2) or c["v"] not in (1, 2) or c["tq"] not in qt:
            return None
    by_id = {c["id"]: c for c in comps}
    order = []
    for cs, td, ta in scan_comps:
        if cs not in by_id or (0, td) not in huff or (1, ta) not in huff:
            return None
        order.append((by_id[cs], huff[(0, td)], huff[(1, ta)]))
    if len(order) != len(comps):  # multi-scan baseline: out of scope
        return None

    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    n_mcu = mcux * mcuy
    # per-component coefficient storage (blocks in MCU raster order)
    planes = []
    for c, _, _ in order:
        bw, bh = mcux * c["h"], mcuy * c["v"]
        planes.append(np.zeros((bh * bw, 64), dtype=np.float64))

    segs = _split_unstuff(b, start)
    seg_idx = 0
    reader = _BitReader(segs[0])
    pred = [0] * len(order)

    for mcu in range(n_mcu):
        if mcu and restart_interval and mcu % restart_interval == 0:
            seg_idx += 1
            if seg_idx >= len(segs):
                return None
            reader = _BitReader(segs[seg_idx])
            pred = [0] * len(order)
        my, mx = divmod(mcu, mcux)
        for ci, (c, (dsym, dlen), (asym, alen)) in enumerate(order):
            for v in range(c["v"]):
                for hh in range(c["h"]):
                    blk = _decode_block(reader, dsym, dlen, asym, alen)
                    if blk is None:
                        return None
                    dc, coefs = blk
                    pred[ci] += dc
                    coefs[0] = pred[ci]
                    bw = mcux * c["h"]
                    planes[ci][(my * c["v"] + v) * bw + (mx * c["h"] + hh)] = coefs

    # dequantize + IDCT per component, vectorized over all blocks
    out_comps = []
    for ci, (c, _, _) in enumerate(order):
        coefs = planes[ci] * qt[c["tq"]][None, :]
        blocks = coefs.reshape(-1, 8, 8)
        pix = np.einsum("ux,nuv,vy->nxy", _C, blocks, _C) + 128.0
        bw, bh = mcux * c["h"], mcuy * c["v"]
        img = (
            pix.reshape(bh, bw, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(bh * 8, bw * 8)
        )
        # upsample to full MCU-padded resolution by pixel replication
        if c["h"] < hmax:
            img = np.repeat(img, hmax // c["h"], axis=1)
        if c["v"] < vmax:
            img = np.repeat(img, vmax // c["v"], axis=0)
        out_comps.append(img[:h, :w])

    if len(out_comps) == 1:
        return np.clip(out_comps[0].round(0), 0, 255).astype(np.uint8)
    Y, Cb, Cr = out_comps
    r = Y + 1.402 * (Cr - 128.0)
    g = Y - 0.344136 * (Cb - 128.0) - 0.714136 * (Cr - 128.0)
    bl = Y + 1.772 * (Cb - 128.0)
    return np.clip(np.stack([r, g, bl], axis=-1).round(0), 0, 255).astype(np.uint8)


def _decode_block(reader, dsym, dlen, asym, alen):
    """One 8x8 block: returns (dc_diff, zigzag-ordered natural coefs) with
    coefs[0] left 0 (caller writes the DC prediction), None on bad stream."""
    p = reader.peek16()
    ln = int(dlen[p])
    if ln == 0:
        return None
    reader.skip(ln)
    size = int(dsym[p])
    if size > 15:
        return None
    dc = _extend(reader.read(size), size)
    coefs = np.zeros(64)
    k = 1
    while k < 64:
        p = reader.peek16()
        ln = int(alen[p])
        if ln == 0:
            return None
        reader.skip(ln)
        rs = int(asym[p])
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            return None
        coefs[_ZZ[k]] = _extend(reader.read(s), s)
        k += 1
    if reader.overran():
        return None
    return dc, coefs
