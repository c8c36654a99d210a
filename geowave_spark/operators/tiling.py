"""Raster↔vector tile assignment + per-tile assembly.

Re-expresses the reference's raster tiling (RasterDataAdapter.convertToIndex
:468-569 — one tile row per covering insertion id of a fixed single-tier
strategy per pyramid level; mosaic/merge per tile key
MosaicPerPyramidLevelBuilder:571-700, merge strategies
extensions/adapters/raster/.../adapter/merge/) for the image workload:

* tile grid convention — level ℓ has 2^(ℓ+1) × 2^ℓ tiles over
  lon × lat, the KDE grid convention (KDERunner.java:234-238);
* `assign_tiles` — each image point → its (level, tile_x, tile_y) per
  pyramid level, PURE Column math (no Python at any scale);
* `assemble_tiles` — groupBy(level, tx, ty) + applyInPandas mosaic: decode
  the member images and accumulate a tile_px × tile_px mean-color raster
  (the merge strategy; nodata cells stay 0 like NoDataMergeStrategy).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import sqlcells


def pyramid_levels_for_resolution(
    deg_per_px: float, tile_px: int = 256, build_pyramid: bool = True, max_level: int = 24
) -> list[int]:
    """Pyramid level selection — RasterDataAdapter.convertToIndex's rule
    (:514-553): choose the level whose tile resolution ratio to the source
    resolution is closest to 1 FROM BELOW (never upsample), plus every
    coarser level when building the full pyramid.

    Level ℓ tile spans 360/2^(ℓ+1) degrees over tile_px pixels →
    level resolution r(ℓ) = 360 / (2^(ℓ+1) · tile_px) deg/px.
    """
    best = 0
    for lvl in range(max_level + 1):
        r = 360.0 / ((1 << (lvl + 1)) * tile_px)
        if r >= deg_per_px:
            best = lvl
        else:
            break
    return list(range(0, best + 1)) if build_pyramid else [best]


def assign_tiles(
    points: DataFrame,
    levels: list[int],
    lon_col: str = "lon",
    lat_col: str = "lat",
    point_id: str = "image_id",
) -> DataFrame:
    """(image_id, level, tile_x, tile_y) for each pyramid level — JVM-only,
    one SQL expression for all levels."""
    pts = sqlcells._with_phash_coords(points, lon_col, lat_col)
    lon, lat = sqlcells._col_ref(lon_col), sqlcells._col_ref(lat_col)
    structs = ", ".join(
        f"struct({int(lvl)} AS level, {sqlcells.tile_x_expr(lon, lvl)} AS tile_x, "
        f"{sqlcells.tile_y_expr(lat, lvl)} AS tile_y)"
        for lvl in levels
    )
    return pts.select(point_id, F.expr(f"inline(array({structs}))"))


def tile_assignment_oracle_numpy(lon: np.ndarray, lat: np.ndarray, level: int):
    """Reference numpy implementation for golden files (FIXTURES.md §4)."""
    nx, ny = 1 << (level + 1), 1 << level
    tx = np.clip(np.floor((lon + 180.0) / 360.0 * nx), 0, nx - 1).astype(np.int64)
    ty = np.clip(np.floor((lat + 90.0) / 180.0 * ny), 0, ny - 1).astype(np.int64)
    return tx, ty


def tile_counts(
    points: DataFrame,
    levels: list[int],
    point_id: str = "image_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Per-tile image counts — the aggregation dual of assignment."""
    return (
        assign_tiles(points, levels, lon_col, lat_col, point_id=point_id)
        .groupBy("level", "tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n_images"))
    )


_TILE_SCHEMA = T.StructType(
    [
        T.StructField("level", T.IntegerType()),
        T.StructField("tile_x", T.LongType()),
        T.StructField("tile_y", T.LongType()),
        T.StructField("n_images", T.LongType()),
        T.StructField("tile_png", T.BinaryType()),
    ]
)


MERGE_STRATEGIES = ("mean", "max", "overwrite")


def _assemble(tile_px: int, merge: str = "mean"):
    """Per-tile mosaic with pluggable merge strategy — the
    RasterDataAdapter merge-strategy family (NoDataMergeStrategy etc.,
    extensions/adapters/raster/.../adapter/merge/): 'mean' averages
    contributions, 'max' keeps the brightest, 'overwrite' keeps the last
    by image_id order (NoData semantics: untouched pixels stay 0)."""
    if merge not in MERGE_STRATEGIES:
        raise ValueError(f"merge must be one of {MERGE_STRATEGIES}")
    from ..functions import imagecodec as codec

    def fn(key, pdf: pd.DataFrame) -> pd.DataFrame:
        level, tx, ty = int(key[0]), int(key[1]), int(key[2])
        nx, ny = 1 << (level + 1), 1 << level
        lon0, lon1 = tx / nx * 360.0 - 180.0, (tx + 1) / nx * 360.0 - 180.0
        lat0, lat1 = ty / ny * 180.0 - 90.0, (ty + 1) / ny * 180.0 - 90.0
        pdf = pdf.sort_values("image_id")  # deterministic overwrite order
        acc = np.zeros((tile_px, tile_px, 3), np.float64)
        cnt = np.zeros((tile_px, tile_px, 1), np.float64)
        px = np.clip(((pdf["lon"] - lon0) / (lon1 - lon0) * tile_px).astype(int), 0, tile_px - 1)
        # row 0 = TOP (max lat) — same north-up raster convention as
        # _mosaic below (round-3 review: the two were vertically mirrored)
        py = np.clip(((lat1 - pdf["lat"]) / (lat1 - lat0) * tile_px).astype(int), 0, tile_px - 1)
        for j, (b, f) in enumerate(zip(pdf["bytes"], pdf["fmt"])):
            mean = codec.decode_image(bytes(b), f).reshape(-1, 3).mean(axis=0)
            yj, xj = py.iloc[j], px.iloc[j]
            if merge == "mean":
                acc[yj, xj] += mean
                cnt[yj, xj] += 1.0
            elif merge == "max":
                acc[yj, xj] = np.maximum(acc[yj, xj], mean)
                cnt[yj, xj] = 1.0
            else:  # overwrite
                acc[yj, xj] = mean
                cnt[yj, xj] = 1.0
        if merge == "mean":
            tile = np.where(cnt > 0, acc / np.maximum(cnt, 1.0), 0.0)  # nodata stays 0
        else:
            tile = acc
        png = codec.encode_png(np.clip(np.round(tile), 0, 255).astype(np.uint8))
        return pd.DataFrame(
            [
                {
                    "level": level,
                    "tile_x": tx,
                    "tile_y": ty,
                    "n_images": len(pdf),
                    "tile_png": png,
                }
            ]
        )

    return fn


def assemble_tiles(
    images: DataFrame,
    level: int,
    tile_px: int = 64,
    lon_col: str = "lon",
    lat_col: str = "lat",
    merge: str = "mean",
) -> DataFrame:
    """Mosaic per (level, tile): decode member images, mean-color raster.

    The shuffle key is the tile key — identical to the reference's
    groupBy(partition+sort key) mosaic (KDERunner.java:551-623).
    """
    pts = sqlcells._with_phash_coords(images, lon_col, lat_col).withColumns({
        "level": F.lit(level),
        "tile_x": F.expr(sqlcells.tile_x_expr(sqlcells._col_ref(lon_col), level)),
        "tile_y": F.expr(sqlcells.tile_y_expr(sqlcells._col_ref(lat_col), level)),
    })
    # normalize the coordinate column names for the pandas mosaic fn —
    # non-default lon_col/lat_col must not KeyError inside the workers
    pts = pts.select(
        "level", "tile_x", "tile_y", "image_id", "bytes", "fmt",
        F.col(lon_col).alias("lon"), F.col(lat_col).alias("lat"),
    )
    return pts.groupBy("level", "tile_x", "tile_y").applyInPandas(
        _assemble(tile_px, merge), _TILE_SCHEMA
    )


def _mosaic(tile_px: int, merge: str, nodata: float = 0.0):
    """Per-tile TRUE mosaic: every member image's decoded pixels are
    nearest-neighbor resampled through the world-to-screen affine into the
    tile's pixel grid, then merged per band with nodata semantics — the
    RasterDataAdapter clip/resample path (RasterDataAdapter.java:468-569,
    MosaicPerPyramidLevelBuilder:571-700) and its merge-strategy family
    (.../adapter/merge/): 'mean' averages contributions, 'max' keeps the
    brightest, 'overwrite' keeps the last by image_id; pixels no image
    covers stay at the nodata value.

    Tile raster convention: row 0 = TOP (max lat), pixel centers sampled
    (standard world-to-screen affine with y inverted)."""
    if merge not in MERGE_STRATEGIES:
        raise ValueError(f"merge must be one of {MERGE_STRATEGIES}")
    from ..functions import imagecodec as codec

    def fn(key, pdf: pd.DataFrame) -> pd.DataFrame:
        level, tx, ty = int(key[0]), int(key[1]), int(key[2])
        nx, ny = 1 << (level + 1), 1 << level
        tlon0, tlon1 = tx / nx * 360.0 - 180.0, (tx + 1) / nx * 360.0 - 180.0
        tlat0, tlat1 = ty / ny * 180.0 - 90.0, (ty + 1) / ny * 180.0 - 90.0
        dlon = (tlon1 - tlon0) / tile_px
        dlat = (tlat1 - tlat0) / tile_px
        # dest pixel centers (row 0 = top)
        lon_c = tlon0 + (np.arange(tile_px) + 0.5) * dlon
        lat_c = tlat1 - (np.arange(tile_px) + 0.5) * dlat
        acc = np.full((tile_px, tile_px, 3), nodata, np.float64)
        cnt = np.zeros((tile_px, tile_px, 1), np.float64)
        pdf = pdf.sort_values("image_id")  # deterministic overwrite order
        # NOTE: itertuples() positionally renames underscore-prefixed
        # columns — iterate the footprint columns explicitly
        for b, fmt, fx0, fy0, fx1, fy1 in zip(
            pdf["bytes"], pdf["fmt"], pdf["_fx0"], pdf["_fy0"], pdf["_fx1"], pdf["_fy1"]
        ):
            img = codec.decode_image(bytes(b), fmt).astype(np.float64)
            ih, iw = img.shape[:2]
            # footprints are TRUE extents (never clamped — clamping would
            # geometrically squeeze the source into a smaller box instead
            # of cropping it); a footprint past ±180 matches the tile's
            # pixel centers through the ±360-shifted longitude
            lon_m = lon_c
            if fx1 > 180.0:
                lon_m = np.where(lon_c < fx0, lon_c + 360.0, lon_c)
            elif fx0 < -180.0:
                lon_m = np.where(lon_c > fx1, lon_c - 360.0, lon_c)
            jj = np.nonzero((lon_m >= fx0) & (lon_m < fx1))[0]
            ii = np.nonzero((lat_c > fy0) & (lat_c <= fy1))[0]
            if not jj.size or not ii.size:
                continue
            sc = np.clip(((lon_m[jj] - fx0) / (fx1 - fx0) * iw).astype(np.int64), 0, iw - 1)
            sr = np.clip(((fy1 - lat_c[ii]) / (fy1 - fy0) * ih).astype(np.int64), 0, ih - 1)
            patch = img[sr[:, None], sc[None, :]]
            sel = np.ix_(ii, jj)
            if merge == "mean":
                first = cnt[sel][:, :, 0] == 0
                acc[sel] = np.where(first[:, :, None], 0.0, acc[sel]) + patch
                cnt[sel] += 1.0
            elif merge == "max":
                first = cnt[sel][:, :, 0] == 0
                acc[sel] = np.where(
                    first[:, :, None], patch, np.maximum(acc[sel], patch)
                )
                cnt[sel] = 1.0
            else:  # overwrite
                acc[sel] = patch
                cnt[sel] = 1.0
        covered = cnt[:, :, 0] > 0
        if merge == "mean":
            tile = np.where(covered[:, :, None], acc / np.maximum(cnt, 1.0), nodata)
        else:
            tile = np.where(covered[:, :, None], acc, nodata)
        png = codec.encode_png(np.clip(np.round(tile), 0, 255).astype(np.uint8))
        return pd.DataFrame(
            [
                {
                    "level": level,
                    "tile_x": tx,
                    "tile_y": ty,
                    "n_images": len(pdf),
                    "tile_png": png,
                }
            ]
        )

    return fn


def mosaic_tiles(
    images: DataFrame,
    level: int,
    tile_px: int = 64,
    lon_col: str = "lon",
    lat_col: str = "lat",
    merge: str = "mean",
    deg_per_px: float = 0.01,
    footprint_cols: tuple[str, str, str, str] | None = None,
) -> DataFrame:
    """True raster→vector-tile mosaicking (pixel fidelity).

    Each image covers a geographic FOOTPRINT — explicit via
    ``footprint_cols`` (x0, y0, x1, y1) or derived as a box centered at
    its point with ``deg_per_px`` degrees per source pixel.  Footprints
    explode to every overlapping tile (pure Column math — the analog of
    RasterDataAdapter.convertToIndex fan-out), then each tile group
    resamples its members' actual pixels through the world-to-screen
    affine with per-band nodata merge.  Unlike ``assemble_tiles`` (a
    point-heat summary raster), the output tiles contain the mosaicked
    source imagery."""
    pts = sqlcells._with_phash_coords(images, lon_col, lat_col)
    d = sqlcells._dbl
    if footprint_cols is None:
        # TRUE extents — never clamped: _mosaic's world-to-screen affine
        # maps the FULL source image over the footprint, so clamping here
        # would squeeze edge-adjacent imagery instead of cropping it
        lon, lat = sqlcells._col_ref(lon_col), sqlcells._col_ref(lat_col)
        hw = f"(CAST(`w` AS DOUBLE) * {d(deg_per_px)} / {d(2.0)})"
        hh = f"(CAST(`h` AS DOUBLE) * {d(deg_per_px)} / {d(2.0)})"
        fp = {"_fx0": f"{lon} - {hw}", "_fx1": f"{lon} + {hw}",
              "_fy0": f"{lat} - {hh}", "_fy1": f"{lat} + {hh}"}
    else:
        fp = {n: sqlcells._col_ref(c) for n, c in zip(("_fx0", "_fy0", "_fx1", "_fy1"), footprint_cols)}
    pts = pts.withColumns({n: F.expr(e) for n, e in fp.items()})
    nx = 1 << (level + 1)

    def tx(c: str) -> str:
        return sqlcells.tile_x_expr(c, level)

    # tile fan-out: tile_*_expr clamps out-of-range coordinates to the edge
    # tile, so the main sequence crops naturally; a footprint crossing the
    # antimeridian ALSO covers tiles on the far side (±360-shifted range)
    empty = "CAST(array() AS ARRAY<BIGINT>)"
    wrap_hi = (
        f"IF(`_fx1` > {d(180.0)}, sequence(0L, {tx(f'(`_fx1` - {d(360.0)})')}), {empty})"
    )
    wrap_lo = (
        f"IF(`_fx0` < {d(-180.0)}, sequence({tx(f'(`_fx0` + {d(360.0)})')}, {nx - 1}L), {empty})"
    )
    ty0, ty1 = (sqlcells.tile_y_expr(c, level) for c in ("`_fy0`", "`_fy1`"))
    pts = (
        pts.withColumns({
            "level": F.lit(level),
            "tile_x": F.expr(
                f"explode(array_distinct(concat(sequence({tx('`_fx0`')}, {tx('`_fx1`')}), "
                f"{wrap_hi}, {wrap_lo})))"
            ),
        })
        .withColumn("tile_y", F.expr(f"explode(sequence({ty0}, {ty1}))"))
    )
    cols = ["level", "tile_x", "tile_y", "image_id", "bytes", "fmt",
            "_fx0", "_fy0", "_fx1", "_fy1"]
    return pts.select(*cols).groupBy("level", "tile_x", "tile_y").applyInPandas(
        _mosaic(tile_px, merge), _TILE_SCHEMA
    )


def retile(tiles: DataFrame, from_level: int, to_level: int) -> DataFrame:
    """Re-tile aggregated per-tile counts to a coarser level — the analog of
    RasterTileResizeSparkRunner (flatMap to new tile keys → merge).  Pure
    column math: a level-ℓ tile's parent at ℓ' is (tx >> (ℓ-ℓ'), ty >> (ℓ-ℓ'))."""
    if to_level > from_level:
        raise ValueError("retile only coarsens (use assign_tiles for finer)")
    d = from_level - to_level
    return (
        tiles.withColumn("tile_x", F.shiftrightunsigned(F.col("tile_x"), d))
        .withColumn("tile_y", F.shiftrightunsigned(F.col("tile_y"), d))
        .withColumn("level", F.lit(to_level))
        .groupBy("level", "tile_x", "tile_y")
        .agg(F.sum("n_images").alias("n_images"))
    )
