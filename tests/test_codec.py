"""Image codec round trips + the BASELINE.json per-row invariant
(decoded-pixel allclose; PSNR>=40dB for lossy; caption equality)."""

import numpy as np
import pytest

from geowave_spark.functions import imagecodec as codec
from geowave_spark.sources import images


@pytest.mark.parametrize("shape", [(16, 16), (32, 32), (48, 64), (17, 31)])
def test_bmp_roundtrip(shape):
    rng = np.random.default_rng(1)
    arr = rng.integers(0, 256, (*shape, 3), dtype=np.uint8)
    assert np.array_equal(codec.decode_bmp(codec.encode_bmp(arr)), arr)


@pytest.mark.parametrize("shape", [(16, 16), (32, 32), (48, 64), (17, 31)])
def test_png_roundtrip(shape):
    rng = np.random.default_rng(2)
    arr = rng.integers(0, 256, (*shape, 3), dtype=np.uint8)
    assert np.array_equal(codec.decode_png(codec.encode_png(arr)), arr)


def test_unknown_format_raises():
    with pytest.raises(NotImplementedError):
        codec.encode_image(np.zeros((8, 8, 3), np.uint8), "webp")


def test_row_invariants_sample():
    """FIXTURES.md §1 invariant on a sample of generated rows: decode(bytes)
    matches A_i (exact for lossless, PSNR>=40 for lossy), caption matches."""
    for i in [0, 1, 2, 3, 97, 500]:
        row = images.row_for(i)
        arr = images.pixels_for(i)
        dec = codec.decode_image(row["bytes"], row["fmt"])
        assert dec.shape == arr.shape == (row["h"], row["w"], 3)
        if row["fmt"] in codec.LOSSLESS:
            assert np.array_equal(dec, arr)
        else:
            assert codec.psnr(arr, dec) >= 40.0
        assert row["caption"] == f"synthetic image {i} tier test {i % 97}"
        assert row["phash"] == images.phash_for(i)


def test_generation_deterministic():
    a = images.row_for(123)
    b = images.row_for(123)
    assert a["bytes"] == b["bytes"] and a["phash"] == b["phash"]


def test_row_invariants_distributed(spark):
    """The same per-row invariant enforced through the engine's own Spark
    path: image_psnr pandas UDF over a generated DataFrame — every row
    decodes to >= 40 dB (lossless rows come back infinite) and captions
    survive the round trip."""
    from pyspark.sql import functions as F

    from geowave_spark.functions.geo_udfs import image_psnr

    df = images.generate_images(spark, 120)
    idx = F.substring(F.col("image_id"), 4, 10).cast("long")
    scored = df.withColumn(
        "psnr", image_psnr(F.col("bytes"), F.col("fmt"), F.col("w"), F.col("h"), idx)
    )
    rows = scored.select("image_id", "fmt", "psnr", "caption").collect()
    assert len(rows) == 120
    for r in rows:
        assert r["psnr"] >= 40.0, f"{r['image_id']} ({r['fmt']}): PSNR {r['psnr']}"
        i = int(r["image_id"][3:])
        assert r["caption"] == f"synthetic image {i} tier test {i % 97}"
