"""SpatialFrame — the engine's user-facing builder API.

The thin facade over the operator modules, playing the role of the
reference's QueryBuilder / VectorQueryBuilder / SpatialJoinRunner entry
points (SURVEY.md §3.1): a reference user writes

    sf = SpatialFrame.from_images(spark.read.parquet(path))   # phash → point
    sf.within_bbox((-30, 10, 45, 55))                         # range query
    sf.spatial_join(polygons)                                 # point-in-polygon
    sf.spatial_join(polygons, radius=0.5)                     # distance join
    sf.knn(queries, k=5, max_distance=3.0)                    # kNN
    sf.tile_counts([4, 8, 12])                                # tile pyramid
    sf.kde(level=7)                                           # density surface
    sf.subsample(tier=8)                                      # render thinning
    sf.stats()                                                # statistics agg

Everything returns plain DataFrames — the builder only wires column names
and defaults, never hides the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import sqlcells
from .operators import kde as kde_mod
from .operators import knn as knn_mod
from .operators import spatial_join, stats, tiling


class SpatialFrame:
    """A DataFrame with (lon, lat) point geometry and an id column."""

    def __init__(self, df: DataFrame, id_col: str, lon_col: str = "lon", lat_col: str = "lat"):
        self.df = df
        self.id_col = id_col
        self.lon_col = lon_col
        self.lat_col = lat_col

    # -- constructors -------------------------------------------------------

    @classmethod
    def from_images(cls, images: DataFrame, id_col: str = "image_id") -> "SpatialFrame":
        """Image table (input_hint schema): deterministic point from phash."""
        df = images.withColumns({
            "lon": F.expr(sqlcells.lon_from_phash("`phash`")),
            "lat": F.expr(sqlcells.lat_from_phash("`phash`")),
        })
        return cls(df, id_col)

    @classmethod
    def from_points(
        cls, df: DataFrame, id_col: str, lon_col: str = "lon", lat_col: str = "lat"
    ) -> "SpatialFrame":
        return cls(df, id_col, lon_col, lat_col)

    @classmethod
    def from_keyed(cls, df: DataFrame, id_col: str) -> "SpatialFrame":
        """Any keyed table: synthetic deterministic geometry from the id."""
        out = df.withColumn("lon", sqlcells.derived_lon(F.col(id_col))).withColumn(
            "lat", sqlcells.derived_lat(F.col(id_col))
        )
        return cls(out, id_col)

    # -- queries ------------------------------------------------------------

    def within_bbox(self, bbox: tuple[float, float, float, float], loose: bool = False) -> DataFrame:
        return stats.range_lookup(self.df, bbox, lon_col=self.lon_col, lat_col=self.lat_col, loose=loose)

    def spatial_join(
        self,
        polygons: DataFrame,
        predicate: str | None = None,
        radius: float = 0.0,
        broadcast: bool | None = None,
        **kw,
    ) -> DataFrame:
        pred = predicate or ("dwithin" if radius else "intersects")
        return spatial_join.tiered_spatial_join(
            self.df,
            polygons,
            predicate=pred,
            radius=radius,
            lon_col=self.lon_col,
            lat_col=self.lat_col,
            point_id=self.id_col,
            broadcast_polygons=broadcast,
            **kw,
        )

    def knn(self, queries: DataFrame, k: int = 5, max_distance: float = 1.0, query_id: str = "query_id") -> DataFrame:
        q = queries
        if "k" not in q.columns:
            q = q.withColumn("k", F.lit(k))
        if "max_distance" not in q.columns:
            q = q.withColumn("max_distance", F.lit(float(max_distance)))
        return knn_mod.knn_join(
            self.df, q, point_id=self.id_col, query_id=query_id,
            p_lon=self.lon_col, p_lat=self.lat_col,
        )

    def tile_assignments(self, levels: list[int]) -> DataFrame:
        return tiling.assign_tiles(self.df, levels, self.lon_col, self.lat_col, self.id_col)

    def tile_counts(self, levels: list[int]) -> DataFrame:
        return tiling.tile_counts(
            self.df, levels, point_id=self.id_col,
            lon_col=self.lon_col, lat_col=self.lat_col,
        )

    def kde(self, level: int, exact: bool = False) -> DataFrame:
        fn = kde_mod.kde_exact if exact else kde_mod.kde
        return fn(self.df, level, self.lon_col, self.lat_col)

    def subsample(self, tier: int) -> DataFrame:
        return stats.subsample_cells(self.df, tier, self.id_col, self.lon_col, self.lat_col)

    def stats(self, group_col: str, value_col: str, ts_col: str) -> DataFrame:
        return stats.table_stats(self.df, group_col, value_col, ts_col, self.lon_col, self.lat_col)

    # -- store maintenance ---------------------------------------------------

    def write_store(self, root: str, n_files: int = 32, bounds=None) -> dict:
        """Bulk-load this frame as a maintained cell-indexed store (the
        continuous-ingest layout: append_store / compact_store /
        lookup_store in sources.maintenance operate on it)."""
        from .sources import maintenance

        return maintenance.write_store(
            self.df, root, n_files=n_files,
            lon_col=self.lon_col, lat_col=self.lat_col, phash_col=None,
            bounds=bounds,
        )


class GeometryFrame:
    """A DataFrame with a WKT geometry column — the general-geometry
    entry point (LINESTRING tracks, polygons with holes, multi-geometries).

        gf = GeometryFrame(tracks_df, "track_id")
        gf.join(admin_areas_df, "area_id")                  # intersects
        gf.join(other_tracks, "tid", radius=0.01)           # dwithin
        gf.join(huge_table, "rid", broadcast=False)         # BIG×BIG

    Same builder contract as SpatialFrame: wires names, never hides plans.
    """

    def __init__(
        self,
        df: DataFrame,
        id_col: str,
        wkt_col: str = "wkt",
        bbox_cols: tuple[str, str, str, str] | None = None,
        is_box: bool = False,
    ):
        self.df = df
        self.id_col = id_col
        self.wkt_col = wkt_col
        self.bbox_cols = bbox_cols
        # declare every geometry an axis-aligned box == its envelope:
        # box×box candidates then refine JVM-side (no Arrow, no WKT moves).
        # BROADCAST-path acceleration only: the shuffle (BIG×BIG) join has
        # no driver-side view of the right geometries to classify boxes
        # against, so it refines exactly through the pairwise kernel —
        # correct either way, just not the JVM fast path
        self.is_box = is_box

    def join(
        self,
        right: DataFrame,
        right_id: str,
        predicate: str | None = None,
        radius: float = 0.0,
        right_wkt: str = "wkt",
        broadcast: bool | None = None,
    ) -> DataFrame:
        """Geometry × geometry join; the build side is picked inside
        ``geometry_join`` (the shared row-count + WKT-byte probe) unless
        ``broadcast=False`` forces the shuffle join."""
        pred = predicate or ("dwithin" if radius else "intersects")
        if broadcast is not False:
            return spatial_join.geometry_join(
                self.df, right, predicate=pred, radius=radius,
                left_id=self.id_col, right_id=right_id,
                left_wkt=self.wkt_col, right_wkt=right_wkt,
                left_bbox_cols=self.bbox_cols, left_is_box=self.is_box,
            )
        return spatial_join.geometry_join_shuffle(
            self.df, right, predicate=pred, radius=radius,
            left_id=self.id_col, right_id=right_id,
            left_wkt=self.wkt_col, right_wkt=right_wkt,
            left_bbox_cols=self.bbox_cols,
        )
