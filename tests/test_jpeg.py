"""Real baseline JPEG codec (functions/jpegcodec.py): ITU T.81 baseline
sequential, from scratch.  Pins the BASELINE.json per-row invariant
("decoded-pixel allclose, PSNR>=40dB for lossy") against an actual lossy
format, plus decoder generality (grayscale, 4:2:0, restart markers) and
bit determinism."""

from __future__ import annotations

import os
import struct
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geowave_spark.functions import imagecodec as codec
from geowave_spark.functions import jpegcodec as jc
from geowave_spark.sources import images as src


def _noise(h, w, seed=0):
    return np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)


# ---------------------------------------------------------------------------
# PSNR contract
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("shape", [(16, 16), (32, 32), (48, 64), (17, 23), (8, 8), (7, 5)])
def test_psnr_above_40_on_noise_default_quality(shape):
    """Uniform random noise is the WORST case for transform coding — if it
    clears 40 dB, everything does."""
    img = _noise(*shape, seed=shape[0] * 100 + shape[1])
    dec = jc.decode_jpeg(jc.encode_jpeg(img))
    assert dec.shape == img.shape
    assert codec.psnr(img, dec) >= 40.0


def test_psnr_on_fixture_rows():
    """The exact per-row invariant over the synthetic image table content."""
    for i in (1, 4, 7, 301, 902):  # i % 3 == 1 rows are the jpeg rows
        arr = src.pixels_for(i)
        dec = jc.decode_jpeg(jc.encode_jpeg(arr))
        assert codec.psnr(arr, dec) >= 40.0


def test_smooth_content_and_420():
    g = np.clip(
        128
        + 100 * np.sin(np.arange(48)[:, None, None] * 0.2) * np.cos(np.arange(64)[None, :, None] * 0.15)
        + np.array([10, -5, 3]),
        0,
        255,
    ).astype(np.uint8)
    for sub in ("444", "420"):
        dec = jc.decode_jpeg(jc.encode_jpeg(g, subsampling=sub))
        assert codec.psnr(g, dec) >= 40.0, sub
    flat = np.full((32, 32, 3), 137, np.uint8)
    assert np.array_equal(jc.decode_jpeg(jc.encode_jpeg(flat)), flat)


def test_quality_monotonic_in_size_and_psnr():
    img = _noise(32, 32, seed=5)
    prev_len = 0
    prev_psnr = 0.0
    for q in (50, 75, 90, 98):
        enc = jc.encode_jpeg(img, quality=q)
        p = codec.psnr(img, jc.decode_jpeg(enc))
        assert len(enc) > prev_len and p > prev_psnr
        prev_len, prev_psnr = len(enc), p


# ---------------------------------------------------------------------------
# Determinism + dispatch
# ---------------------------------------------------------------------------


def test_bit_deterministic():
    img = _noise(33, 41, seed=9)
    assert jc.encode_jpeg(img) == jc.encode_jpeg(img)


def test_dispatch_real_jpeg_and_legacy_gwdc():
    img = _noise(24, 24, seed=3)
    real = codec.encode_image(img, "jpeg")
    assert real[:2] == b"\xff\xd8"  # fmt "jpeg" now emits actual JPEG
    assert codec.psnr(img, codec.decode_image(real, "jpeg")) >= 40.0


# ---------------------------------------------------------------------------
# Decoder generality (streams this encoder does not emit by default)
# ---------------------------------------------------------------------------


def test_restart_intervals_roundtrip():
    img = _noise(48, 64, seed=12)
    for sub in ("444", "420"):
        plain = jc.decode_jpeg(jc.encode_jpeg(img, subsampling=sub))
        for ri in (1, 3, 7):
            enc = jc.encode_jpeg(img, subsampling=sub, restart_interval=ri)
            assert b"\xff\xdd" in enc  # DRI present
            dec = jc.decode_jpeg(enc)
            # restart segmentation must not change a single pixel
            assert np.array_equal(dec, plain), (sub, ri)


def test_grayscale_single_component_stream():
    """Hand-built 1-component baseline stream (the decoder must not assume
    3 components)."""
    rng = np.random.default_rng(31)
    gray = rng.integers(0, 256, (16, 24)).astype(np.float64)
    qt = jc._scaled_qt(jc._QT_LUMA, 98).reshape(64)[jc._ZIGZAG]
    blocks = jc._quantized_blocks(gray, qt)
    n = blocks.shape[0] * blocks.shape[1]
    seq = blocks.reshape(n, 64)
    entropy = jc._entropy_encode(seq, np.zeros(n, np.int64))
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">HB", 67, 0) + bytes(int(x) for x in qt)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, 16, 24, 1) + bytes([1, 0x11, 0])
    for tc_th, bits, vals in (
        (0x00, jc._DC_LUMA_BITS, jc._DC_LUMA_VALS),
        (0x10, jc._AC_LUMA_BITS, jc._AC_LUMA_VALS),
    ):
        out += b"\xff\xc4" + struct.pack(">HB", 3 + 16 + len(vals), tc_th)
        out += bytes(bits) + bytes(vals)
    out += b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes([1, 0x00]) + b"\x00\x3f\x00"
    out += entropy + b"\xff\xd9"
    dec = jc.decode_jpeg(bytes(out))
    assert dec.shape == (16, 24, 3)
    # gray replicates across bands; reconstruction error ≈ quantization only
    err = np.abs(dec[:, :, 0].astype(np.float64) - gray)
    assert (dec[:, :, 0] == dec[:, :, 1]).all() and (dec[:, :, 1] == dec[:, :, 2]).all()
    assert np.sqrt((err**2).mean()) < 3.0


def test_marker_fill_bytes_tolerated():
    # T.81 B.1.1.2: any number of 0xFF fill bytes may precede a marker
    img = _noise(16, 16, seed=2)
    enc = jc.encode_jpeg(img)
    i = enc.index(b"\xff\xc0")
    patched = enc[:i] + b"\xff\xff\xff" + enc[i:]
    assert np.array_equal(jc.decode_jpeg(patched), jc.decode_jpeg(enc))


def test_rejects_progressive_and_garbage():
    img = _noise(16, 16, seed=1)
    enc = bytearray(jc.encode_jpeg(img))
    sof = enc.index(b"\xff\xc0")
    enc[sof + 1] = 0xC2  # flip SOF0 → SOF2 (progressive)
    with pytest.raises(ValueError, match="non-baseline"):
        jc.decode_jpeg(bytes(enc))
    with pytest.raises(ValueError):
        jc.decode_jpeg(b"not a jpeg at all")


def test_phash_stable_under_420_reencode():
    """The perceptual-dedup invariant against REAL chroma subsampling:
    pHash is luma-only, and 4:2:0 leaves luma at full resolution, so even
    on noise (where 4:2:0 chroma PSNR collapses) the hash moves ≤ a few
    bits — a 420 re-encode is still found at the hamming≤4 dedup default."""
    from geowave_spark.functions import phash as ph

    rng = np.random.default_rng(3)
    for i in range(20):
        img = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
        h0 = ph.phash64_pixels(img)
        h420 = ph.phash64_pixels(jc.decode_jpeg(jc.encode_jpeg(img, subsampling="420")))
        assert bin(h0 ^ h420).count("1") <= 4


def test_zigzag_is_t81_sequence():
    # first and last entries of the spec's scan order
    want_head = [0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5]
    assert list(jc._ZIGZAG[:16]) == want_head
    assert jc._ZIGZAG[63] == 63
    assert sorted(jc._ZIGZAG.tolist()) == list(range(64))


def test_annex_k_huffman_tables_are_full_prefix_codes():
    for bits, vals in (
        (jc._DC_LUMA_BITS, jc._DC_LUMA_VALS),
        (jc._DC_CHROMA_BITS, jc._DC_CHROMA_VALS),
        (jc._AC_LUMA_BITS, jc._AC_LUMA_VALS),
        (jc._AC_CHROMA_BITS, jc._AC_CHROMA_VALS),
    ):
        assert sum(bits) == len(vals)
        # Kraft inequality strictly < 1 (JPEG reserves the all-ones code)
        kraft = sum(n / (1 << (i + 1)) for i, n in enumerate(bits))
        assert kraft < 1.0
