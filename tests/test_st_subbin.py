"""Sub-bin temporal keying (r2 review item #7): time as a true key
dimension inside calendar bins.

Pins (a) exactness of st_subbin_range_lookup vs a brute-force filter,
(b) that a sub-bin time slice scans MEASURABLY fewer rows than the
bin-only plan (the whole point of the bias-bits key), and (c) that the
key predicate is pushed to the parquet scan.
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geowave_spark import cells3
from geowave_spark.operators import spatiotemporal as st
from geowave_spark.sources import indexed


BBOX = (-30.0, 10.0, 45.0, 55.0)
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00 NTZ
WEEK_US = 7 * 86_400_000_000


def _store(spark, sf_dir, tmp_path_factory):
    from geowave_spark import entry_queries as eq

    path = str(tmp_path_factory.mktemp("stidx") / "st.parquet")
    ev = eq._events(spark, sf_dir)
    indexed.write_indexed_st(ev, path, n_files=8, unit="year", bias="balanced")
    return ev, path


@pytest.fixture(scope="module")
def st_store(spark, sf_dir, tmp_path_factory):
    return _store(spark, sf_dir, tmp_path_factory)


def test_subbin_lookup_exact(spark, st_store):
    ev, path = st_store
    t0 = EPOCH_2024_US + 5 * 86_400_000_000
    t1 = t0 + WEEK_US
    got = indexed.st_subbin_range_lookup(spark, path, BBOX, t0, t1)
    eus = st.epoch_us_expr("ts")
    want = ev.filter(
        (eus >= t0) & (eus <= t1)
        & (F.col("lon") >= BBOX[0]) & (F.col("lon") <= BBOX[2])
        & (F.col("lat") >= BBOX[1]) & (F.col("lat") <= BBOX[3])
    )
    g = sorted(r["event_id"] for r in got.select("event_id").collect())
    w = sorted(r["event_id"] for r in want.select("event_id").collect())
    assert g == w and len(g) > 0


def test_subbin_scan_prunes_below_bin(spark, st_store):
    """Candidate rows surviving the KEY predicate (pre-refine) must be far
    fewer than the year bin's row count — the r2 design scanned the whole
    bin for any sub-bin slice."""
    ev, path = st_store
    t0 = EPOCH_2024_US + 5 * 86_400_000_000
    t1 = t0 + WEEK_US
    loose = indexed.st_subbin_range_lookup(spark, path, BBOX, t0, t1, loose=True)
    n_loose = loose.count()
    n_bin = spark.read.parquet(path).filter(F.col("_bin") == 2024).count()
    # events span ~30 days; a 7-day slice × a bbox must prune hard
    assert n_loose < n_bin / 3, (n_loose, n_bin)
    # and the loose set still covers the exact result
    n_exact = indexed.st_subbin_range_lookup(spark, path, BBOX, t0, t1).count()
    assert n_exact <= n_loose


def test_subbin_predicate_is_pushed(spark, st_store):
    ev, path = st_store
    t0 = EPOCH_2024_US + 5 * 86_400_000_000
    t1 = t0 + WEEK_US
    df = indexed.st_subbin_range_lookup(spark, path, BBOX, t0, t1, loose=True)
    spark.conf.set("spark.sql.maxMetadataStringLength", "100000")
    try:
        plan = df._jdf.queryExecution().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", "100")
    assert "PushedFilters" in plan and "_stkey" in plan.split("PushedFilters", 1)[1][:4000]


def test_bias_budgets_and_key_roundtrip():
    for bias, bits in cells3.ST_BIAS.items():
        assert sum(bits) == 30
        sched = cells3.bit_schedule(bits)
        assert len(sched) == 30
        for d in range(3):
            assert sched.count(d) == bits[d]
    # key decomposition covers exactly the query box at full resolution
    bits = (4, 4, 4)
    qlo, qhi = (3, 1, 5), (9, 6, 11)
    ranges = cells3.ranges_for_box3(qlo, qhi, bits, budget=10_000)
    member = set()
    for lo, hi in ranges:
        member.update(range(lo, hi + 1))
    want = {
        cells3.st_key_scalar(x, y, t, bits)
        for x in range(qlo[0], qhi[0] + 1)
        for y in range(qlo[1], qhi[1] + 1)
        for t in range(qlo[2], qhi[2] + 1)
    }
    assert want == member


def test_budgeted_ranges_are_superset():
    bits = (6, 6, 6)
    qlo, qhi = (5, 9, 2), (40, 51, 33)
    tight = cells3.ranges_for_box3(qlo, qhi, bits, budget=100_000)
    loose = cells3.ranges_for_box3(qlo, qhi, bits, budget=8)
    assert len(loose) <= 24  # budget bounds the fragment count (±octant tail)

    def cover(rs):
        s = set()
        for lo, hi in rs:
            s.update(range(lo, hi + 1))
        return s

    assert cover(tight) <= cover(loose)


def test_written_st_keys_match_scalar_twin(spark, tmp_path):
    """The stored (_bin, _stkey) of write_indexed_st equals the numpy /
    driver twins — cells.grid_coord over cells.norm_lon / norm_lat and
    the in-bin time fraction, packed by cells3.st_key_scalar — for every
    bias and for month and year bins, on the edge rows where the key math
    clamps, wraps or sits on a bin boundary."""
    import datetime

    import numpy as np
    from pyspark.sql import types as T

    from geowave_spark import cells

    dt = datetime.datetime
    us = datetime.timedelta(microseconds=1)
    rows = [
        (1, -180.0, -90.0, dt(2024, 1, 1)),                  # year + month bin start
        (2, 180.0, 90.0, dt(2025, 1, 1) - us),               # 1 µs before next year
        (3, 179.99999999999997, 0.0, dt(2024, 3, 1) - us),  # 1 µs before next month
        (4, 0.0, 45.5, dt(2024, 3, 1)),                      # month bin start
        (5, -179.999, -89.999, dt(2023, 6, 15, 12, 34, 56, 789012)),
        (6, 179.999, 89.999, dt(2023, 12, 31, 23, 59, 59, 999999)),
    ]
    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("ts", T.TimestampNTZType()),
    ])
    df = spark.createDataFrame(rows, schema)
    epoch = dt(1970, 1, 1)

    def bin_of(t, unit):
        if unit == "year":
            return t.year, dt(t.year, 1, 1), dt(t.year + 1, 1, 1)
        nxt = dt(t.year + (t.month == 12), t.month % 12 + 1, 1)
        return t.year * 100 + t.month, dt(t.year, t.month, 1), nxt

    for unit in ("month", "year"):
        for bias, bits in cells3.ST_BIAS.items():
            path = str(tmp_path / f"st_{unit}_{bias}")
            indexed.write_indexed_st(df, path, n_files=2, unit=unit, bias=bias)
            got = {
                r["event_id"]: (r["_bin"], r["_stkey"])
                for r in spark.read.parquet(path).collect()
            }
            want = {}
            for i, lon, lat, t in rows:
                bid, start, nxt = bin_of(t, unit)
                eus, s_us, n_us = ((x - epoch) // us for x in (t, start, nxt))
                frac = np.float64(eus - s_us) / np.float64(n_us - s_us)
                gx = int(cells.grid_coord(cells.norm_lon(lon), bits[0]))
                gy = int(cells.grid_coord(cells.norm_lat(lat), bits[1]))
                gt = int(cells.grid_coord(frac, bits[2]))
                want[i] = (bid, cells3.st_key_scalar(gx, gy, gt, bits))
            assert got == want, (unit, bias)
