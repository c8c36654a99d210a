"""Round-3 third-batch review regressions: codec edge cases, schema
hygiene, store column overrides."""

from __future__ import annotations

import os
import struct
import sys
import zlib

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geowave_spark.functions import imagecodec as codec


def _bmp_bytes(arr: np.ndarray, top_down: bool) -> bytes:
    h, w, _ = arr.shape
    row_size = (w * 3 + 3) & ~3
    rows = np.zeros((h, row_size), np.uint8)
    bgr = arr[:, :, ::-1]
    body = bgr if top_down else bgr[::-1]
    rows[:, : w * 3] = body.reshape(h, w * 3)
    pixel_data = rows.tobytes()
    bih = struct.pack(
        "<IiiHHIIiiII", 40, w, (-h if top_down else h), 1, 24, 0,
        len(pixel_data), 2835, 2835, 0, 0,
    )
    offset = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", offset + len(pixel_data), 0, 0, offset)
    return header + bih + pixel_data


def test_bmp_top_down_decodes():
    """Negative biHeight = spec-conformant top-down BMP; both orientations
    must round-trip to the same pixels."""
    rng = np.random.RandomState(3)
    arr = rng.randint(0, 256, (5, 4, 3), np.uint8)
    assert np.array_equal(codec.decode_bmp(_bmp_bytes(arr, top_down=False)), arr)
    assert np.array_equal(codec.decode_bmp(_bmp_bytes(arr, top_down=True)), arr)


def test_png_invalid_filter_raises():
    """A corrupt row-filter byte (5) must raise, not silently Paeth-decode
    to plausible garbage."""
    arr = np.zeros((2, 2, 3), np.uint8)
    good = codec.encode_png(arr)
    # rebuild the IDAT with filter byte 5 on row 0
    raw = np.concatenate([np.zeros((2, 1), np.uint8), arr.reshape(2, 6)], axis=1)
    raw[0, 0] = 5
    idat = zlib.compress(raw.tobytes(), 6)
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    bad = (
        b"\x89PNG\r\n\x1a\n"
        + codec._png_chunk(b"IHDR", ihdr)
        + codec._png_chunk(b"IDAT", idat)
        + codec._png_chunk(b"IEND", b"")
    )
    assert codec.decode_png(good) is not None
    with pytest.raises(ValueError, match="filter"):
        codec.decode_png(bad)


def test_png_interlaced_rejected():
    """Adam7-interlaced PNGs are not supported — must raise 'unsupported',
    never reshape a per-pass IDAT into scrambled pixels."""
    arr = np.zeros((4, 4, 3), np.uint8)
    raw = np.concatenate([np.zeros((4, 1), np.uint8), arr.reshape(4, 12)], axis=1)
    idat = zlib.compress(raw.tobytes(), 6)
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 1)  # interlace=1
    data = (
        b"\x89PNG\r\n\x1a\n"
        + codec._png_chunk(b"IHDR", ihdr)
        + codec._png_chunk(b"IDAT", idat)
        + codec._png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="unsupported"):
        codec.decode_png(data)


def test_range_lookup_preserves_caller_schema(spark, sf_dir):
    from geowave_spark import entry_queries as eq
    from geowave_spark.operators import stats

    ev = eq._events(spark, sf_dir)
    out = stats.range_lookup(ev, (-20.0, -20.0, 20.0, 20.0))
    assert "_cell31" not in out.columns
    assert set(out.columns) == set(ev.columns)


def test_indexed_store_custom_coordinate_columns(spark, tmp_path):
    from pyspark.sql import functions as F

    from geowave_spark.sources.iceberg import IndexedStore

    df = spark.createDataFrame(
        [(1, 10.0, 10.0), (2, 120.0, 40.0)], "pid long, x double, y double"
    )
    store = IndexedStore(spark, str(tmp_path / "s.parquet"), force_parquet=True)
    store.write(df, n_files=1, lon_col="x", lat_col="y", phash_col=None)
    got = sorted(
        r["pid"]
        for r in store.range_lookup((0.0, 0.0, 20.0, 20.0), lon_col="x", lat_col="y").collect()
    )
    assert got == [1]
