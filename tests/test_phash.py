"""Pixel-based perceptual hash + hamming-banded image near-dup join.

Pins: Spark path == pure-numpy reference bit-exactly; format invariance
(lossless re-encodes hash identically); robustness (lossy DCT round-trip
at PSNR>=40 stays within the near-dup radius); and exact pair parity of
the banded join against a brute-force all-pairs hamming oracle (pigeonhole
soundness: bands > max_hamming)."""

import numpy as np
import pytest

from geowave_spark.functions import imagecodec as codec
from geowave_spark.functions import phash
from geowave_spark.sources import images


def _img_df(spark, rows):
    return spark.createDataFrame(rows, images.SCHEMA)


from conftest import image_rows as _rows


def test_spark_phash_matches_numpy_reference(spark):
    rows = _rows(48)
    got = {
        r["image_id"]: r["phash64"]
        for r in phash.compute_phash(_img_df(spark, rows)).collect()
    }
    assert len(got) == 48
    for r in rows:
        expect = phash.phash64_pixels(codec.decode_image(r["bytes"], r["fmt"]))
        assert got[r["image_id"]] == expect
        assert expect >= 0  # bit 63 never set — codes stay non-negative longs


def test_phash_lossless_format_invariance():
    arr = images.pixels_for(7)
    h_png = phash.phash64_pixels(codec.decode_image(codec.encode_png(arr), "png"))
    h_bmp = phash.phash64_pixels(codec.decode_image(codec.encode_bmp(arr), "bmp"))
    assert h_png == h_bmp == phash.phash64_pixels(arr)


def test_phash_lossy_roundtrip_stays_near():
    """A lossy JPEG re-encode at PSNR>=40 moves the hash by at most the
    near-dup radius; an unrelated image sits far away."""
    arr = images.pixels_for(11)
    dec = codec.decode_image(codec.encode_image(arr, "jpeg"), "jpeg")
    assert codec.psnr(arr, dec) >= 40.0
    d_lossy = int.bit_count(phash.phash64_pixels(arr) ^ phash.phash64_pixels(dec))
    assert d_lossy <= 4
    other = images.pixels_for(12)
    d_other = int.bit_count(phash.phash64_pixels(arr) ^ phash.phash64_pixels(other))
    assert d_other > 10


def test_image_neardup_pairs_exact_vs_bruteforce(spark):
    """Planted near-dups (lossless re-encode + lossy round-trip) are found;
    the banded join's output equals the all-pairs hamming oracle exactly."""
    rows = _rows(40)
    # plant: img0 re-encoded as bmp (hamming 0), img3 through the lossy DCT
    for src, fmt, did in ((0, "bmp", "dupA"), (3, "jpeg", "dupB")):
        arr = images.pixels_for(src)
        rows.append(
            {
                "image_id": did,
                "bytes": codec.encode_image(arr, fmt),
                "w": arr.shape[1],
                "h": arr.shape[0],
                "fmt": fmt,
                "caption": "dup",
                "phash": 0,
            }
        )
    df = _img_df(spark, rows)
    got = {
        (r["img_a"], r["img_b"]): r["hamming"]
        for r in phash.image_neardup_pairs(df, max_hamming=4, bands=5).collect()
    }
    # brute-force oracle over the same decoded pixels
    hashes = {
        r["image_id"]: phash.phash64_pixels(codec.decode_image(r["bytes"], r["fmt"]))
        for r in rows
    }
    ids = sorted(hashes)
    expect = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            d = int.bit_count(hashes[a] ^ hashes[b])
            if d <= 4:
                expect[(min(a, b), max(a, b))] = d
    assert got == expect
    assert ("dupA", "img0000000000") in got and got[("dupA", "img0000000000")] == 0
    assert ("dupB", "img0000000003") in got


def test_neardup_pigeonhole_guard():
    import pyspark.sql  # noqa: F401  (spark-independent arg validation)

    with pytest.raises(ValueError):
        from geowave_spark.operators import dedup

        dedup.simhash_pairs(None, max_hamming=5, bits=64, bands=5, signatures=None)
