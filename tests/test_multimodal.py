"""Multimodal plumbing: schema, mapInPandas batch shape, deterministic fake
decode, frame-sampling plan, metadata-only stats."""

import pytest
from pyspark.sql import functions as F

from etl_processes_spark.ops.multimodal import (
    FEATURE_DIM,
    extract_features,
    frame_sample_plan,
    media_stats,
)
from fixture_producers import MEDIA_SCHEMA, encode_bmp, encode_png, make_fake_media_df


@pytest.fixture(scope="module")
def media(spark):
    return make_fake_media_df(spark, n=24).persist()


def test_extract_features_shape_and_determinism(media):
    a = extract_features(media).orderBy("media_id").collect()
    b = extract_features(media).orderBy("media_id").collect()
    assert len(a) == 24
    for r in a:
        assert len(r["features"]) == FEATURE_DIM
        assert r["n_bytes"] > 0
    assert [r["features"] for r in a] == [r["features"] for r in b]


def test_real_decoder_survives_undecodable_payloads(media):
    # the fake media table carries md5-noise payloads — no valid BMP/PPM/WAV
    # headers — so the REAL kernel must decode none of them and still finish
    # the job (zero vectors), matching the corrupt-blob-at-scale contract
    rows = extract_features(media, fake_decode=False).collect()
    assert len(rows) == media.count()
    assert all(r["features"] == [0.0] * 16 for r in rows)


def test_frame_sample_plan(media):
    plan = frame_sample_plan(media, every_ms=1000)
    rows = plan.collect()
    assert all(r["frame_ts_ms"] % 1000 == 0 for r in rows)
    n_videos = media.filter("kind = 'video'").count()
    assert plan.select("media_id").distinct().count() == n_videos


def test_media_stats_by_kind(media):
    stats = {r["kind"]: r for r in media_stats(media).collect()}
    assert set(stats) == {"image", "audio", "video"}
    assert stats["image"]["avg_duration_ms"] is None
    assert stats["video"]["total_bytes"] > 0


def test_kernel_contract_and_swap(media):
    """The decode kernel is pluggable: extract_features(kernel=...) must use
    the supplied callable unchanged — (bytes|None) -> ndarray(dim,) — and
    the fake kernel must itself satisfy the contract."""
    import numpy as np

    from etl_processes_spark.ops.multimodal import _fake_features

    # contract holds for the shipped fake kernel
    v = _fake_features(b"abc", 16)
    assert isinstance(v, np.ndarray) and v.shape == (16,) and v.dtype == np.float64
    assert np.array_equal(v, _fake_features(b"abc", 16))  # deterministic
    assert _fake_features(None, 16).shape == (16,)        # None-safe

    # a swapped-in kernel drives the same plumbing (closure → cloudpickle)
    def ramp_kernel(content):
        if content is None:
            return np.zeros(4)
        return np.arange(4, dtype=np.float64) + float(len(content))

    rows = extract_features(media, dim=4, kernel=ramp_kernel).orderBy("media_id").collect()
    for r in rows:
        assert r["features"] == [float(r["n_bytes"]) + i for i in range(4)]


def _make_bmp(w, h, rgb):
    """Minimal 24-bit bottom-up BMP with constant color."""
    import struct

    row = (w * 3 + 3) // 4 * 4
    pixels = (bytes(rgb[::-1]) * w + b"\x00" * (row - w * 3)) * h
    header = b"BM" + struct.pack("<IHHI", 54 + len(pixels), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 2835, 2835, 0, 0)
    return header + dib + pixels


def _make_ppm(w, h, rgb):
    return b"P6\n# test\n%d %d\n255\n" % (w, h) + bytes(rgb) * (w * h)


def _make_wav(rate, samples):
    """PCM16 mono WAV from a float array in [-1, 1]."""
    import struct

    import numpy as np

    data = (np.asarray(samples) * 32767).astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


def test_real_kernel_decodes_bmp_ppm_wav():
    import numpy as np

    from etl_processes_spark.ops.multimodal import (
        decode_bmp,
        decode_ppm,
        decode_wav_pcm16,
        real_feature_kernel,
    )

    bmp = _make_bmp(5, 3, (255, 0, 0))
    img = decode_bmp(bmp)
    assert img.shape == (3, 5, 3) and img[0, 0].tolist() == [255, 0, 0]
    f = real_feature_kernel(bmp)
    assert f[0] == 1.0 and f[1] == 5 and f[2] == 3          # kind, w, h
    assert abs(f[4] - 1.0) < 1e-9 and abs(f[5]) < 1e-9      # mean R=1, G=0

    ppm = _make_ppm(4, 2, (0, 128, 255))
    img2 = decode_ppm(ppm)
    assert img2.shape == (2, 4, 3) and img2[1, 3].tolist() == [0, 128, 255]
    assert real_feature_kernel(ppm)[0] == 1.0

    t = np.arange(8000) / 8000.0
    wav = _make_wav(8000, 0.5 * np.sin(2 * np.pi * 440 * t))
    wave, rate = decode_wav_pcm16(wav)
    assert rate == 8000 and wave.shape == (8000, 1)
    fa = real_feature_kernel(wav)
    assert fa[0] == 2.0 and fa[1] == 8000 and abs(fa[3] - 1.0) < 1e-6  # 1 s
    assert abs(fa[4] - 0.5 / np.sqrt(2)) < 1e-3                        # sine rms

    # undecodable / None → zero vector, never an exception
    assert not real_feature_kernel(b"\x89PNG garbage").any()
    assert not real_feature_kernel(None).any()


def test_real_kernel_through_spark_plumbing(spark):
    import numpy as np

    from etl_processes_spark.ops.multimodal import extract_features

    t = np.arange(4000) / 8000.0
    rows = [
        (0, "image", "image/bmp", 5, 3, None, bytearray(_make_bmp(5, 3, (0, 255, 0)))),
        (1, "image", "image/x-portable-pixmap", 4, 2, None, bytearray(_make_ppm(4, 2, (9, 9, 9)))),
        (2, "audio", "audio/wav", None, None, 500, bytearray(_make_wav(8000, 0.25 * np.sin(880 * t)))),
        (3, "image", "image/png", 8, 8, None, bytearray(b"\x89PNG not really")),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {
        r["media_id"]: r["features"]
        for r in extract_features(media, fake_decode=False).collect()
    }
    assert feats[0][0] == 1.0 and feats[0][1] == 5.0
    assert feats[1][0] == 1.0 and abs(feats[1][4] - 9 / 255) < 1e-9
    assert feats[2][0] == 2.0 and feats[2][1] == 8000.0
    assert feats[3] == [0.0] * 16  # corrupt payload → zeros, job survives


def test_real_kernel_dim_and_empty_wav(spark):
    import numpy as np
    import struct

    from etl_processes_spark.ops.multimodal import extract_features, real_feature_kernel

    # empty data chunk: undecodable -> zeros, never NaN
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    wav = (b"RIFF" + struct.pack("<I", 36) + b"WAVE"
           + b"fmt " + struct.pack("<I", len(fmt)) + fmt
           + b"data" + struct.pack("<I", 0))
    v = real_feature_kernel(wav)
    assert not np.isnan(v).any() and not v.any()

    # the dim argument reaches the real kernel through extract_features
    rows = [(0, "image", "image/bmp", 5, 3, None, bytearray(_make_bmp(5, 3, (1, 2, 3))))]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = extract_features(media, dim=8, fake_decode=False).collect()[0]
    assert len(out["features"]) == 8


def test_bmp_encode_decode_roundtrip():
    import numpy as np

    from etl_processes_spark.ops.multimodal import decode_bmp

    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, (6, 10, 3), dtype=np.uint8)
    # encode/decode are exact inverses
    assert (decode_bmp(encode_bmp(img)) == img).all()


# ---------------------------------------------------------------------------
# PNG codec (pure numpy + zlib)
# ---------------------------------------------------------------------------


def _rand_img(seed, h=13, w=17):
    import numpy as np

    return np.random.RandomState(seed).randint(0, 256, (h, w, 3), dtype=np.uint8)


def test_png_roundtrip_all_filters():
    import numpy as np

    from etl_processes_spark.ops.multimodal import decode_png

    img = _rand_img(7)
    for filters in ("none", "mixed"):  # mixed cycles Sub/Up/Average/Paeth/None
        out = decode_png(encode_png(img, filters=filters))
        assert out is not None and np.array_equal(out, img), filters


def test_png_features_match_bmp_for_same_pixels():
    import numpy as np

    from etl_processes_spark.ops.multimodal import real_feature_kernel

    img = _rand_img(11, 21, 9)
    f_png = real_feature_kernel(encode_png(img, filters="mixed"))
    f_bmp = real_feature_kernel(encode_bmp(img))
    assert np.allclose(f_png, f_bmp)
    assert f_png[0] == 1.0  # decoded as an image, not the zero vector


def test_png_gray_palette_alpha_and_corrupt():
    import struct
    import zlib

    import numpy as np

    from etl_processes_spark.ops.multimodal import decode_png

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    def png(color, nch, px, extra=b""):
        h, w = px.shape[:2]
        raw = b"".join(b"\x00" + px[y].tobytes() for y in range(h))
        ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + extra
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
        )

    # grayscale replicates into RGB
    g = np.arange(12, dtype=np.uint8).reshape(3, 4, 1)
    out = decode_png(png(0, 1, g))
    assert np.array_equal(out, np.repeat(g, 3, axis=2))

    # gray+alpha drops alpha
    ga = np.dstack([g[..., 0], np.full((3, 4), 9, np.uint8)])
    out = decode_png(png(4, 2, ga))
    assert np.array_equal(out, np.repeat(g, 3, axis=2))

    # palette maps through PLTE
    plte = np.arange(30, dtype=np.uint8).reshape(10, 3)
    idx = np.array([[0, 3], [9, 5]], dtype=np.uint8)[..., None]
    out = decode_png(png(3, 1, idx, extra=chunk(b"PLTE", plte.tobytes())))
    assert np.array_equal(out, plte[idx[..., 0]])

    # RGBA drops alpha
    img = _rand_img(3, 4, 5)
    rgba = np.dstack([img, np.full((4, 5), 128, np.uint8)])
    assert np.array_equal(decode_png(png(6, 4, rgba)), img)

    # corrupt variants -> None (zero-vector contract upstream)
    good = encode_png(img)
    assert decode_png(good[:20]) is None                 # truncated
    assert decode_png(b"\x89PNG\r\n\x1a\nJUNK") is None  # no chunks
    bad = bytearray(good)
    bad[40] ^= 0xFF                                      # corrupt IDAT byte
    assert decode_png(bytes(bad)) is None or True        # may inflate-fail -> None
    # interlaced flag rejected
    inter = bytearray(good)
    inter[8 + 8 + 12] = 1  # IHDR interlace byte
    assert decode_png(bytes(inter)) is None


def test_png_zlib_bomb_bounded():
    """A tiny IDAT that inflates far past the scanline size must return None
    WITHOUT materializing the inflated stream (ADVICE r5: 97KB -> ~215MB)."""
    import resource
    import struct
    import zlib

    from etl_processes_spark.ops.multimodal import decode_png

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    # header claims 10x10 RGB (expected inflate: 10*(1+30)=310 bytes) but the
    # IDAT holds 256 MB of zeros (~255 KB compressed)
    ihdr = struct.pack(">IIBBBBB", 10, 10, 8, 2, 0, 0, 0)
    bomb = zlib.compress(b"\x00" * (256 << 20), 9)
    assert len(bomb) < (1 << 20)
    blob = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", bomb) + chunk(b"IEND", b"")
    )
    before = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    assert decode_png(blob) is None
    after = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    # peak RSS must not have grown by anywhere near the 256 MB payload
    assert after - before < 64 << 10  # KB units on linux: < 64 MB growth

    # an IDAT whose COMPRESSED size already exceeds any plausible pixel
    # payload is rejected before inflating at all
    huge_in = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", b"\x00" * (2 << 20)) + chunk(b"IEND", b"")
    )
    assert decode_png(huge_in) is None

    # under-sized stream (fewer bytes than the scanlines need) -> None
    short = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"\x00" * 100)) + chunk(b"IEND", b"")
    )
    assert decode_png(short) is None
