"""Physical-plan audits — the scale contract, asserted.

These tests pin the plan shapes that make the engine viable at 100 TB:
broadcast (not cartesian) joins, zero Python in box-workload hot paths,
column pruning past the multi-KB image bytes column, and parquet pushdown
of cell ranges on the indexed layout.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geowave_spark import entry_queries as eq
from geowave_spark.operators import spatial_join
from geowave_spark.sources import indexed


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _full_plan(df) -> str:
    # default maxMetadataStringLength=100 truncates ReadSchema/PushedFilters
    df.sparkSession.conf.set("spark.sql.maxMetadataStringLength", "100000")
    try:
        return df._jdf.queryExecution().toString()
    finally:
        df.sparkSession.conf.set("spark.sql.maxMetadataStringLength", "100")


def test_pip_join_is_broadcast_no_cartesian_no_python(spark, sf_dir):
    """Box-only polygon workload: broadcast hash join, whole plan JVM-side."""
    ev = eq._events(spark, sf_dir)
    boxes = eq._poly_df(spark, [p for p in eq.PIP_POLYGONS])
    out = spatial_join.tiered_spatial_join(ev, boxes, point_id="event_id")
    out.count()  # materialize with AQE final plan
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan, "box fast path must not touch Python"


def test_general_polygon_join_uses_pandas_refine_only(spark, sf_dir):
    """Non-box polygons: exactly one ArrowEvalPython (the refine), still a
    broadcast join — the cover is computed driver-side."""
    ev = eq._events(spark, sf_dir)
    tri = spark.createDataFrame(
        [("tri1", "POLYGON ((0 0, 30 0, 15 25, 0 0))")], ["polygon_id", "wkt"]
    )
    out = spatial_join.tiered_spatial_join(ev, tri, point_id="event_id")
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert plan.count("ArrowEvalPython") == 1


def test_broadcast_sides_are_local_relations(spark, sf_dir):
    """Every driver-built broadcast side (the box cells, the general
    polygons' cells and their WKTs) is a LocalTableScan, which needs no
    Spark job of its own — never an RDD scan over Python rows."""
    ev = eq._events(spark, sf_dir)
    polys = spark.createDataFrame(
        [("box", "POLYGON ((0 0, 30 0, 30 25, 0 25, 0 0))"),
         ("tri", "POLYGON ((0 0, 30 0, 15 25, 0 0))")], ["polygon_id", "wkt"],
    )
    out = spatial_join.tiered_spatial_join(ev, polys, point_id="event_id")
    out.collect()
    lines = _plan(out).splitlines()
    below = [
        lines[i + 1].lstrip(" :+-") for i, line in enumerate(lines)
        if line.lstrip(" :+-").startswith("BroadcastExchange")
    ]
    assert len(below) >= 3, below  # the final AQE plan lists each stage twice
    assert all(n.startswith("LocalTableScan") for n in below), below
    assert "ExistingRDD" not in "\n".join(lines) and "RDDScan" not in "\n".join(lines)


def test_box_geometry_join_is_jvm_only(spark, sf_dir):
    """geometry_join with left_is_box over an all-box right side refines
    entirely in codegen: no Python of any kind in the plan, and results
    equal the Arrow-refine path."""
    ext = eq._event_snap_box_df(spark, sf_dir)
    polys = eq._snap_poly_df(spark)
    fast = spatial_join.geometry_join(
        ext, polys, predicate="touches",
        left_id="event_id", right_id="polygon_id",
        left_bbox_cols=("bx0", "by0", "bx1", "by1"), left_is_box=True,
    )
    plan = _plan(fast)
    assert "EvalPython" not in plan and "ArrowEval" not in plan
    slow = spatial_join.geometry_join(
        ext, polys, predicate="touches",
        left_id="event_id", right_id="polygon_id",
        left_bbox_cols=("bx0", "by0", "bx1", "by1"),
    )
    a = set((r[0], r[1]) for r in fast.collect())
    b = set((r[0], r[1]) for r in slow.collect())
    assert a == b and a


def test_knn_plan_is_jvm_only(spark, sf_dir):
    plan = _plan(eq.q_knn_join(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_kde_and_tiles_jvm_only(spark, sf_dir):
    for q in (eq.q_kde, eq.q_tile_counts, eq.q_subsample, eq.q_cell_ids):
        assert "EvalPython" not in _plan(q(spark, sf_dir))


def test_image_join_prunes_bytes_column(spark, tmp_path):
    """The multi-KB bytes column must never be scanned by the spatial join."""
    from geowave_spark.sources import images as img

    path = str(tmp_path / "imgs.parquet")
    img.generate_images(spark, 200).write.parquet(path)
    df = spark.read.parquet(path)
    polys = eq._poly_df(spark, [("b1", -90.0, -45.0, 90.0, 45.0)])
    out = spatial_join.tiered_spatial_join(df, polys, point_id="image_id")
    full = _full_plan(out)
    scan_lines = [ln for ln in full.splitlines() if "ReadSchema" in ln and "imgs.parquet" in ln]
    assert scan_lines, "expected a parquet scan of the image table"
    for ln in scan_lines:
        assert "bytes" not in ln.split("ReadSchema")[-1], f"bytes column scanned: {ln}"


def test_indexed_layout_pushes_cell_ranges(spark, tmp_path):
    """Cell-range predicates reach the parquet scan as PushedFilters, and
    row-group stats prune files outside the query box."""
    path = str(tmp_path / "ev_indexed.parquet")
    ev = eq._events(spark, "/root/testdata/sf0.001")
    indexed.write_indexed(ev, path, n_files=16, phash_col=None)
    out = indexed.range_lookup_indexed(spark, path, (-30.0, 10.0, 45.0, 55.0))
    full = _full_plan(out)
    assert "PushedFilters: [" in full
    pushed = full.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "cell" in pushed, f"cell ranges not pushed: {pushed[:200]}"
    # correctness: indexed lookup == plain filter on the same table
    plain = (
        spark.read.parquet(path)
        .filter(
            (F.col("lon") >= -30.0) & (F.col("lon") <= 45.0)
            & (F.col("lat") >= 10.0) & (F.col("lat") <= 55.0)
        )
    )
    assert out.count() == plain.count()


def test_broadcast_threshold_respected_for_shuffle_path(spark, sf_dir):
    """broadcast_polygons=False takes the shuffle path (SortMergeJoin or
    ShuffledHashJoin — AQE picks) and still matches the broadcast result."""
    ev = eq._events(spark, sf_dir)
    polys = eq._poly_df(spark, [p for p in eq.PIP_POLYGONS if p[0].startswith("small")])
    fast = spatial_join.tiered_spatial_join(ev, polys, point_id="event_id")
    slow = spatial_join.tiered_spatial_join(
        ev, polys, point_id="event_id", broadcast_polygons=False
    )
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, slow.collect()))


def test_loose_range_lookup_semantics(spark, sf_dir, tmp_path):
    """loose=True skips only the exact refine: on the indexed layout it
    returns the cell-cover superset; without an index it still filters."""
    from geowave_spark.operators import stats

    ev = eq._events(spark, sf_dir)
    bbox = (-30.0, 10.0, 45.0, 55.0)
    exact = stats.range_lookup(ev, bbox).count()
    # unindexed table: loose must NOT return the whole table
    loose_unindexed = stats.range_lookup(ev, bbox, loose=True).count()
    assert loose_unindexed == exact
    # indexed layout: loose is a cover superset of exact
    path = str(tmp_path / "ev_idx.parquet")
    indexed.write_indexed(ev, path, n_files=8, phash_col=None)
    stored = spark.read.parquet(path)
    exact_idx = stats.range_lookup(stored, bbox).count()
    loose_idx = stats.range_lookup(stored, bbox, loose=True).count()
    assert exact_idx == exact
    assert loose_idx >= exact_idx


def test_hotspot_cells_jvm_only_and_sane(spark, sf_dir):
    """Gi* hotspot: all-JVM plan; a deliberately planted dense cluster
    scores the top z, and z ordering follows neighborhood mass."""
    from geowave_spark.operators import stats as stats_ops

    base = eq._events(spark, sf_dir)
    # plant a hot cluster: copy 300 events into one city block
    hot = base.limit(300).withColumn("lon", F.lit(2.35)).withColumn("lat", F.lit(48.85))
    pts = base.unionByName(hot)
    out = stats_ops.hotspot_cells(pts, tier=6)
    plan = _plan(out)
    assert "EvalPython" not in plan and "ArrowEval" not in plan
    rows = out.collect()
    top = max(rows, key=lambda r: (r["gi_mu"] is not None, r["gi_mu"]))
    # the planted block's cell at tier 6: grid coord of (2.35, 48.85)
    import numpy as np
    from geowave_spark import cells
    gx = int(cells.grid_coord(cells.norm_lon(np.float64(2.35)), 6))
    gy = int(cells.grid_coord(cells.norm_lat(np.float64(48.85)), 6))
    assert (top["gx"], top["gy"]) == (gx, gy)
    assert top["n"] >= 300


def test_pq_ann_scan_is_codes_only(spark, sf_dir):
    """Regression (r2 review): the PQ ADC candidate stage used to carry
    the full `_v` vectors, defeating the m-byte compressed scan.  The
    fold stage must reference codes only; `_v` joins back for just the
    <= rerank survivors."""
    out = eq.q_ann_pq(spark, sf_dir)
    out.count()
    plan = _plan(out)
    adc_lines = [ln for ln in plan.splitlines() if "AS _adc#" in ln]
    assert adc_lines, "ADC fold stage missing from plan"
    for ln in adc_lines:
        assert "_v#" not in ln and "embedding#" not in ln, ln
    # the shortlist that meets the vectors again is a broadcast probe
    assert "BroadcastHashJoin" in plan


def test_image_neardup_pairs_no_cartesian_one_decode_pass(spark):
    """Perceptual near-dup candidates come from the banded equi-join —
    never a cross join — and Python appears only as the Arrow-batched
    decode/hash stages (FlatMapGroups-free, EvalPython-free)."""
    from geowave_spark.functions import phash as ph
    from geowave_spark.sources import images as img

    corpus = img.generate_images(spark, 400)
    out = ph.image_neardup_pairs(corpus, max_hamming=4, bands=5)
    out.count()
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan  # row-at-a-time Python banned
    # candidate generation is an equi-join (hash or sort-merge by size)
    assert ("SortMergeJoin" in plan) or ("HashJoin" in plan)


def test_image_features_single_map_stage(spark):
    """The feature pass is one MapInPandas over (id, bytes, fmt).  A
    production-shaped input (>= 64 partitions) passes through with NO
    exchange; an under-partitioned local frame gets exactly the one
    round-robin re-split (wave-evenness — see ensure_decode_splits)."""
    from geowave_spark.functions import imagefeat as feat
    from geowave_spark.sources import images as img

    big_shape = img.generate_images(spark, 200).repartition(64)
    plan = _plan(feat.compute_features(big_shape))
    assert plan.count("MapInPandas") >= 1
    assert "CartesianProduct" not in plan
    # the ONLY exchange is the caller's own repartition(64) — the decode
    # guard added nothing on a production-shaped input
    assert plan.count("Exchange") == 1

    small = img.generate_images(spark, 200)  # 8 scan partitions
    plan2 = _plan(feat.compute_features(small))
    assert plan2.count("Exchange") == 1  # the decode re-split, nothing else


def test_relate_leg_single_arrow_stage(spark, sf_dir):
    """The general-RELATE CQL leg (r5) must be one Arrow-batched
    MapInPandas filter over the scan — no row-at-a-time Python, no
    cartesian, no shuffle (it is a pure filter)."""
    from geowave_spark import entry_queries as eq

    plan = _plan(eq.q_st_range_relate(spark, sf_dir))
    assert plan.count("MapInPandas") + plan.count("ArrowEvalPython") >= 1
    assert "BatchEvalPython" not in plan  # row-at-a-time banned
    assert "CartesianProduct" not in plan
    # the only permissible exchange is the small-scan round-robin
    # re-split (ensure_parallelism); the operator itself never shuffles
    assert plan.count("Exchange") <= 1
    assert "hashpartitioning" not in plan.lower()


def test_exactly_once_geometry_join_stateless_plan(spark):
    """The streaming-legal exactly_once geometry join plan carries no
    stateful operator (the PBSM reference point replaces dedup) and no
    cartesian product."""
    from geowave_spark.operators import spatial_join as sj

    left = spark.createDataFrame(
        [("a", "LINESTRING (0 0, 2 1)"), ("b", "POINT (5 5)")], ["left_id", "wkt"]
    )
    right = spark.createDataFrame(
        [("r", "POLYGON ((0 0, 3 0, 3 3, 0 3, 0 0))")], ["right_id", "wkt"]
    )
    plan = _plan(sj.geometry_join(left, right, exactly_once=True))
    assert "Deduplicate" not in plan and "CartesianProduct" not in plan
