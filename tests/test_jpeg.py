"""Baseline JPEG decoder tests: lossy round-trip against uncompressed ground
truth across subsampling/quality/restart paths, real-world-decoder
robustness via the corrupt/hostile contract, and the feature-kernel hookup."""

import numpy as np
import pytest

from etl_processes_spark.ops.jpeg import decode_jpeg_baseline
from fixture_producers import encode_bmp, encode_jpeg_baseline


def _gradient_rgb(h=64, w=64):
    x = np.linspace(0, 255, w)
    y = np.linspace(0, 255, h)
    g = (x[None, :] + y[:, None]) / 2
    return np.stack([g, g[::-1], np.full_like(g, 128)], -1).astype(np.uint8)


@pytest.mark.parametrize("sub", ["444", "420"])
@pytest.mark.parametrize("quality", [95, 75, 50])
def test_roundtrip_smooth_image(sub, quality):
    img = _gradient_rgb()
    blob = encode_jpeg_baseline(img, quality=quality, subsampling=sub)
    out = decode_jpeg_baseline(blob)
    assert out is not None and out.shape == img.shape and out.dtype == np.uint8
    err = np.abs(out.astype(float) - img.astype(float)).mean()
    # smooth content compresses near-losslessly; 4:2:0 averages chroma
    assert err < (3.0 if sub == "444" else 5.0)


def test_roundtrip_grayscale_and_odd_size():
    rng = np.random.RandomState(7)
    g = (np.linspace(0, 255, 33)[None, :] * np.ones((29, 1))).astype(np.uint8)
    out = decode_jpeg_baseline(encode_jpeg_baseline(g, quality=90))
    assert out.shape == (29, 33)
    assert np.abs(out.astype(float) - g.astype(float)).mean() < 3.0

    noisy = rng.randint(0, 256, (37, 53, 3)).astype(np.uint8)
    out = decode_jpeg_baseline(encode_jpeg_baseline(noisy, quality=95))
    assert out.shape == noisy.shape
    # noise is the worst case for DCT coding; bound is loose but real
    assert np.abs(out.astype(float) - noisy.astype(float)).mean() < 12.0


def test_restart_interval_roundtrip():
    img = _gradient_rgb(48, 40)
    blob = encode_jpeg_baseline(img, quality=85, restart_interval=2)
    assert b"\xff\xdd" in blob  # DRI segment present
    assert any(bytes([0xFF, 0xD0 + i]) in blob for i in range(8))
    out = decode_jpeg_baseline(blob)
    assert out is not None
    assert np.abs(out.astype(float) - img.astype(float)).mean() < 3.0


def test_corrupt_and_unsupported_return_none():
    img = _gradient_rgb(32, 32)
    blob = encode_jpeg_baseline(img, quality=85)
    assert decode_jpeg_baseline(b"") is None
    assert decode_jpeg_baseline(b"\x89PNG") is None
    assert decode_jpeg_baseline(blob[: len(blob) // 2]) is None  # truncated scan
    assert decode_jpeg_baseline(blob[:20]) is None               # headers only
    # progressive (SOF2) is explicitly out of scope -> None, never garbage
    prog = bytearray(blob)
    i = prog.find(b"\xff\xc0")
    prog[i + 1] = 0xC2
    assert decode_jpeg_baseline(bytes(prog)) is None
    # hostile dimensions: pixel cap refuses before allocating
    big = bytearray(blob)
    j = big.find(b"\xff\xc0")
    big[j + 5 : j + 9] = (60_000).to_bytes(2, "big") + (60_000).to_bytes(2, "big")
    assert decode_jpeg_baseline(bytes(big)) is None
    # flipped scan bytes -> None or a decode, never an exception
    broken = bytearray(blob)
    broken[-12] ^= 0xFF
    decode_jpeg_baseline(bytes(broken))


def test_decoder_reads_tables_from_file_not_constants():
    """The decoder must honor the FILE's DQT — re-quantizing the same image
    at two qualities yields different decodes, which can only happen if the
    tables travel through the bitstream."""
    img = _gradient_rgb(32, 32)
    hi = decode_jpeg_baseline(encode_jpeg_baseline(img, quality=95))
    lo = decode_jpeg_baseline(encode_jpeg_baseline(img, quality=10))
    err_hi = np.abs(hi.astype(float) - img.astype(float)).mean()
    err_lo = np.abs(lo.astype(float) - img.astype(float)).mean()
    assert err_hi < err_lo


def test_feature_kernel_decodes_jpeg():
    from etl_processes_spark.ops.multimodal import real_feature_kernel

    img = _gradient_rgb(32, 32)
    jpeg_feats = real_feature_kernel(encode_jpeg_baseline(img, quality=95))
    bmp_feats = real_feature_kernel(encode_bmp(img))
    assert jpeg_feats.shape == (16,)
    assert np.any(jpeg_feats != 0)  # no longer the zero-vector stub
    # near-lossless q=95: features land next to the BMP ground truth
    assert np.allclose(jpeg_feats, bmp_feats, rtol=0.15, atol=0.6)
    # grayscale jpeg promotes to 3 channels for the image feature contract
    g = img[:, :, 0]
    assert np.any(real_feature_kernel(encode_jpeg_baseline(g, quality=95)) != 0)


def test_real_world_decoder_files():
    """Files produced by OTHER encoders (libjpeg-family, found on the box)
    must decode — the tables come from the file, not from our constants."""
    import os

    candidates = [
        "/mnt/sandboxing/model_tools_env/v1/python/install/lib/python3.11/"
        "site-packages/IPython/core/tests/2x2.jpg",
        "/mnt/sandboxing/model_tools_env/v1/python/install/lib/python3.11/"
        "test/test_email/data/python.jpg",
    ]
    found = [p for p in candidates if os.path.exists(p)]
    if not found:
        pytest.skip("no third-party JPEGs on this box")
    for p in found:
        img = decode_jpeg_baseline(open(p, "rb").read())
        assert img is not None and img.size > 0
