"""Round-3 seventh-batch review regressions: mosaic footprint fidelity at
the antimeridian, parameterized assemble columns, DCT overflow guard,
NULL-safe row histograms, and tie-heavy scalable percentiles."""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geowave_spark.functions import imagecodec as codec
from geowave_spark.operators import kde, tiling
from geowave_spark.plans import rowhist


def _img(arr: np.ndarray) -> bytes:
    return codec.encode_png(arr.astype(np.uint8))


def test_assemble_tiles_custom_column_names(spark):
    arr = np.full((4, 4, 3), 90, np.uint8)
    df = spark.createDataFrame(
        [("i1", _img(arr), 4, 4, "png", 10.0, 10.0)],
        "image_id string, bytes binary, w int, h int, fmt string, "
        "longitude double, latitude double",
    )
    out = tiling.assemble_tiles(df, level=3, lon_col="longitude", lat_col="latitude")
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["n_images"] == 1


def test_mosaic_antimeridian_footprint_wraps_not_squeezes(spark):
    """An image whose true footprint crosses +180 must paint its
    past-the-seam pixels onto tiles near lon=-180 at the TRUE geometry —
    not be horizontally squeezed into the clamped box."""
    level, tile_px = 3, 16  # 22.5-deg tiles
    # left half red, right half blue; footprint [170, 190] x [0, 10]:
    # the blue (right) half lives at lon in [180, 190] = [-180, -170]
    arr = np.zeros((8, 16, 3), np.uint8)
    arr[:, :8, 0] = 255
    arr[:, 8:, 2] = 255
    df = spark.createDataFrame(
        [("seam", _img(arr), 16, 8, "png", 170.0, 0.0, 190.0, 10.0, 180.0, 5.0)],
        "image_id string, bytes binary, w int, h int, fmt string, "
        "fx0 double, fy0 double, fx1 double, fy1 double, lon double, lat double",
    )
    tiles = {
        (r["tile_x"], r["tile_y"]): codec.decode_png(bytes(r["tile_png"]))
        for r in tiling.mosaic_tiles(
            df, level, tile_px=tile_px, footprint_cols=("fx0", "fy0", "fx1", "fy1")
        ).collect()
    }
    # east-side tile (lon [157.5, 180) -> tx=15) carries red only
    east = tiles[(15, 4)]
    assert east[:, :, 0].max() == 255 and east[:, :, 2].max() == 0
    # west-side tile (lon [-180, -157.5) -> tx=0) carries blue only —
    # the wrapped content, absent entirely before the fix
    west = tiles[(0, 4)]
    assert west[:, :, 2].max() == 255 and west[:, :, 0].max() == 0
    # geometry check: blue spans [-180, -170] = 10 of the tile's 22.5 deg
    # -> ~7 of 16 pixel columns; a squeeze would compress it differently
    blue_cols = (west[:, :, 2] == 255).any(axis=0).sum()
    assert 6 <= blue_cols <= 8


def test_mosaic_derived_footprint_unclamped(spark):
    """Derived (point+deg_per_px) footprints keep their true extent: an
    image centered near the seam still covers both sides."""
    arr = np.full((8, 8, 3), 120, np.uint8)
    df = spark.createDataFrame(
        [("e", _img(arr), 8, 8, "png", 179.9, 0.0)],
        "image_id string, bytes binary, w int, h int, fmt string, lon double, lat double",
    )
    out = tiling.mosaic_tiles(df, 3, tile_px=8, deg_per_px=0.1)  # footprint [179.5, 180.3]
    txs = {r["tile_x"] for r in out.collect()}
    assert txs == {0, 15}


def test_row_range_histogram_excludes_nulls(spark):
    df = spark.createDataFrame(
        [(int(v),) for v in np.arange(1000)] + [(None,)] * 500,
        "cell long",
    )
    hist = rowhist.row_range_histogram(df, "cell", n_bins=8)
    assert sum(n for _, _, n in hist) == 1000  # NULLs not counted into bin 0


def test_scalable_percentile_tie_heavy_matches_window(spark):
    """All-identical weights (the sparse single-point-cell case) must give
    the same pct_mu as the percent_rank window path — and not funnel the
    tie group through one window task."""
    pts = spark.createDataFrame(
        [(float(i * 30 - 150), float((i * 17) % 140 - 70)) for i in range(40)],
        "lon double, lat double",
    )
    a = kde.kde_exact(pts, 4, scalable_percentile=True)
    b = kde.kde_exact(pts, 4, scalable_percentile=False)
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb
