"""H3-style hexagonal cells (cells_hex): twin equality, nearest-center
correctness and k-rings (the hex Gi* hotspot is in test_hotspot.py)."""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geowave_spark import cells_hex

RNG = np.random.default_rng(11)


def _random_lonlat(n: int) -> tuple[np.ndarray, np.ndarray]:
    lon = np.round(RNG.uniform(-180, 180, n), 4)
    lat = np.round(RNG.uniform(-90, 90, n), 4)
    return lon, lat


def test_duckdb_twin_matches_numpy():
    lon, lat = _random_lonlat(30000)
    con = duckdb.connect()
    con.register("pts", pd.DataFrame({"lon": lon, "lat": lat}))
    exprs = cells_hex.stage_exprs()
    got = con.sql(f"SELECT {', '.join(exprs)} FROM pts").df()
    q, r = cells_hex.axial_np(lon, lat)
    assert (got["hq"].to_numpy() == q).all()
    assert (got["hr"].to_numpy() == r).all()
    assert (got["hex_cell"].to_numpy() == cells_hex.cell_np(lon, lat)).all()


def test_spark_twin_matches_numpy(spark):
    lon, lat = _random_lonlat(30000)
    df = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    out = cells_hex.add_hex_cell_column(df, q_out="hq", r_out="hr")
    pdf = out.toPandas()
    q, r = cells_hex.axial_np(pdf["lon"].to_numpy(), pdf["lat"].to_numpy())
    assert (pdf["hq"].to_numpy() == q).all()
    assert (pdf["hr"].to_numpy() == r).all()
    assert (
        pdf["hex_cell"].to_numpy()
        == cells_hex.cell_np(pdf["lon"].to_numpy(), pdf["lat"].to_numpy())
    ).all()
    assert not [c for c in out.columns if c.startswith("_hx_")]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_nearest_center_assignment():
    """Cube rounding assigns every point to its NEAREST hex center (the
    defining property of hexagonal binning)."""
    lon, lat = _random_lonlat(5000)
    q, r = cells_hex.axial_np(lon, lat)
    cx, cy = cells_hex.center(q, r)
    d_own = (lon - cx) ** 2 + (lat - cy) ** 2
    # no neighbor center is strictly closer
    for dq, dr in cells_hex.NEIGHBOR_OFFSETS:
        nx, ny = cells_hex.center(q + dq, r + dr)
        d_nb = (lon - nx) ** 2 + (lat - ny) ** 2
        assert (d_own <= d_nb + 1e-9).all()
    # and every point is inside the circumradius of its own hex
    assert (np.sqrt(d_own) <= cells_hex.DEFAULT_SIZE + 1e-9).all()


def test_pack_unpack_roundtrip():
    lon, lat = _random_lonlat(5000)
    q, r = cells_hex.axial_np(lon, lat)
    cell = cells_hex.cell_np(lon, lat)
    q2, r2 = cells_hex.unpack(cell)
    assert (q2 == q).all() and (r2 == r).all()


def test_k_ring_counts_and_distance():
    # hex ring counts: 1, 7, 19, 37 ... = 1 + 3k(k+1)
    for k in range(4):
        ring = cells_hex.k_ring(k)
        assert len(ring) == 1 + 3 * k * (k + 1)
        assert len(set(ring)) == len(ring)
        for dq, dr in ring:
            assert cells_hex.hex_distance(dq, dr, 0, 0) <= k
    assert set(cells_hex.k_ring(1)) == {(0, 0), *cells_hex.NEIGHBOR_OFFSETS}


def test_adjacent_cells_are_distance_one():
    for dq, dr in cells_hex.NEIGHBOR_OFFSETS:
        assert int(cells_hex.hex_distance(dq, dr, 0, 0)) == 1


def test_size_scaling_is_nested_density():
    """Adaptive resolution: halving the edge size quadruples cell density
    (aperture-4-style scaling between resolutions)."""
    lon, lat = _random_lonlat(20000)
    n_coarse = len(np.unique(cells_hex.cell_np(lon, lat, size=6.0)))
    n_fine = len(np.unique(cells_hex.cell_np(lon, lat, size=3.0)))
    assert n_fine > 2.5 * n_coarse


def test_parent_axial_hierarchy():
    """Aperture-4 parents: parent-of-child is within hex distance 1 of the
    point's direct coarse assignment, and ~4 children map to one parent."""
    lon, lat = _random_lonlat(20000)
    q, r = cells_hex.axial_np(lon, lat, size=3.0)
    pq, pr = cells_hex.parent_axial(q, r, size=3.0)
    dq, dr = cells_hex.axial_np(lon, lat, size=6.0)  # direct coarse binning
    d = cells_hex.hex_distance(pq, pr, dq, dr)
    assert int(d.max()) <= 1
    # most points agree exactly (centers well inside the parent)
    assert (d == 0).mean() > 0.6
    # aperture ~4: child/parent cell-count ratio
    n_child = len(set(zip(q.tolist(), r.tolist())))
    n_parent = len(set(zip(pq.tolist(), pr.tolist())))
    assert 2.5 < n_child / n_parent < 5.5
