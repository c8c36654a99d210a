"""Gi* hotspots over the square cell grid (``hotspot_cells``) and the
hexagonal grid (``hotspot_hex``): both run one ring statistic
(``stats._gi_star``); these tests pin each grid's ring against brute
force and its edge cases."""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geowave_spark import cells_hex
from geowave_spark.operators import stats


def test_hotspot_tier1_no_double_count(spark):
    # tier 1: 2x2 lon columns — dx=-1 and dx=+1 wrap onto the SAME
    # neighbor column; each neighbor must count once in the ring
    pts = spark.createDataFrame(
        [(-90.0, 10.0)] * 3 + [(90.0, 10.0)] * 5, "lon double, lat double"
    )
    got = {(r["gx"], r["gy"]): r for r in stats.hotspot_cells(pts, tier=1).collect()}
    for key, r in got.items():
        assert r["ring_cnt"] == 2, (key, r)  # self + the one other cell, once
        assert r["ring_sum"] == 8


def test_hotspot_hex_brute_force(spark):
    """Engine hex Gi* == a numpy brute-force recomputation on a small
    deterministic point set."""
    from geowave_spark.operators import stats as stats_ops

    rng = np.random.default_rng(11)
    lon = np.round(rng.uniform(-180, 180, 2000), 4)
    lat = np.round(rng.uniform(-90, 90, 2000), 4)
    df = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    got = stats_ops.hotspot_hex(df).toPandas().sort_values(["hq", "hr"]).reset_index(drop=True)

    q, r = cells_hex.axial_np(lon, lat)
    from collections import Counter

    counts = Counter(zip(q.tolist(), r.tolist()))
    nn = len(counts)
    s1 = sum(counts.values())
    s2 = sum(v * v for v in counts.values())
    mean = s1 / nn
    var = s2 / nn - mean * mean
    sd = np.sqrt(var)
    rows = []
    for (cq, cr), n in counts.items():
        ring = [
            counts.get((cq + dq, cr + dr))
            for dq, dr in ((0, 0), *cells_hex.NEIGHBOR_OFFSETS)
        ]
        ring = [v for v in ring if v is not None]
        w = float(len(ring))
        denom = sd * np.sqrt((nn * w - w * w) / (nn - 1.0))
        z = (sum(ring) - w * mean) / denom
        gi = int(np.floor(z * 1e6 + 0.5)) if denom > 0 else None
        rows.append((cq, cr, n, sum(ring), len(ring), gi))
    want = (
        pd.DataFrame(rows, columns=["hq", "hr", "n", "ring_sum", "ring_cnt", "gi_mu"])
        .sort_values(["hq", "hr"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    for c in ["hq", "hr", "n", "ring_sum", "ring_cnt"]:
        assert (got[c].to_numpy() == want[c].to_numpy()).all(), c
    assert (
        got["gi_mu"].fillna(-1).astype(np.int64).to_numpy()
        == want["gi_mu"].fillna(-1).astype(np.int64).to_numpy()
    ).all()


def test_hotspot_cells_phash_only_table(spark):
    """hotspot_cells must accept phash-only tables like every other
    operator (lon/lat derived via add_point_cols)."""
    from pyspark.sql import functions as F

    from geowave_spark.operators import stats

    # phash packs (hi=lon, lo=lat) 32-bit fractions (FIXTURES.md §1)
    base = spark.range(200).select(
        F.col("id").alias("event_id"),
        (F.pmod(F.xxhash64("id"), F.lit(2**32))).alias("_hi"),
        (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(2**32))).alias("_lo"),
    ).select(
        "event_id",
        (F.shiftleft(F.col("_hi"), 32) + F.col("_lo")).alias("phash"),
    )
    from geowave_spark import sqlcells

    with_coords = base.select(
        "event_id",
        F.expr(sqlcells.lon_from_phash("phash")).alias("lon"),
        F.expr(sqlcells.lat_from_phash("phash")).alias("lat"),
    )
    full = stats.hotspot_cells(with_coords, tier=4)
    got = stats.hotspot_cells(base, tier=4)  # phash-only: must not crash
    assert got.count() == full.count() > 0
