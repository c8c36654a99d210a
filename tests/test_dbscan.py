"""DBSCAN: exact match against the local numpy oracle (labels = min id per
component, deterministic)."""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geowave_spark import entry_queries as eq
from geowave_spark.operators import dbscan


def _check(spark, pts_df, eps, min_pts, id_col="event_id"):
    got = sorted(
        (r[id_col], r["cluster"], r["is_core"])
        for r in dbscan.dbscan(pts_df, eps=eps, min_pts=min_pts, id_col=id_col).collect()
    )
    rows = pts_df.select(id_col, "lon", "lat").collect()
    ids = np.array([r[id_col] for r in rows])
    lon = np.array([r["lon"] for r in rows])
    lat = np.array([r["lat"] for r in rows])
    want = sorted(dbscan.dbscan_oracle_numpy(ids, lon, lat, eps, min_pts))
    assert got == want


def test_dbscan_clusters_match_oracle(spark, sf_dir):
    ev = eq._events(spark, sf_dir).limit(400)
    _check(spark, ev, eps=4.0, min_pts=4)


def test_dbscan_dense_grid(spark):
    """Two well-separated dense blobs + isolated noise points."""
    import pandas as pd

    rows = []
    i = 0
    for cx, cy in [(0.0, 0.0), (50.0, 20.0)]:
        for dx in range(5):
            for dy in range(5):
                rows.append({"event_id": i, "lon": cx + dx * 0.1, "lat": cy + dy * 0.1})
                i += 1
    for j, (nx, ny) in enumerate([(-120.0, -60.0), (120.0, 70.0), (-60.0, 40.0)]):
        rows.append({"event_id": 1000 + j, "lon": nx, "lat": ny})
    df = spark.createDataFrame(pd.DataFrame(rows))
    out = {r["event_id"]: (r["cluster"], r["is_core"]) for r in
           dbscan.dbscan(df, eps=0.3, min_pts=4).collect()}
    # blob 1 all labeled 0, blob 2 all labeled 25, noise unlabeled
    assert all(out[i][0] == 0 for i in range(25))
    assert all(out[i][0] == 25 for i in range(25, 50))
    assert all(out[1000 + j][0] is None for j in range(3))
    _check(spark, df, eps=0.3, min_pts=4)


def test_dbscan_custom_column_names(spark):
    rows = [(i, float(i % 3) * 0.1, float(i % 3) * 0.1) for i in range(12)]
    a = spark.createDataFrame(rows, "event_id long, lon double, lat double")
    b = spark.createDataFrame(rows, "event_id long, x double, y double")
    ra = sorted(map(tuple, dbscan.dbscan(a, 0.5, 3).collect()))
    rb = sorted(map(tuple, dbscan.dbscan(b, 0.5, 3, lon_col="x", lat_col="y").collect()))
    assert ra == rb and len(ra) == 12


def test_dbscan_max_iter_not_converged_raises(spark):
    """A chain component needs one propagation round per hop: with
    max_iter=1 its labels cannot settle, and dbscan must say so instead
    of returning a split cluster."""
    rows = [(i, i * 0.1, 0.0) for i in range(6)]
    chain = spark.createDataFrame(rows, "event_id long, lon double, lat double")
    with pytest.raises(RuntimeError, match="did not converge"):
        dbscan.dbscan(chain, eps=0.15, min_pts=2, max_iter=1)
    assert {r["cluster"] for r in dbscan.dbscan(chain, eps=0.15, min_pts=2).collect()} == {0}
