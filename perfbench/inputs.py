"""Seeded input generation for the two workloads.

Inputs are plain parquet written with numpy + pyarrow (no Spark), so the
engine only ever sees generated files.  They are cached under
``.perfbench_cache/inputs/<workload>-<scale>-s<seed>`` in the checkout: the
same seed and scale reuse the files, a new seed writes a new set.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes per scale.  "full" is what the timed runs use; "tiny" is for the
# smoke test.  The broadcast side stays under the engine's broadcast limit
# (100k polygons) and the shuffle side above it, so the engine picks the
# join path itself.
SCALES = {
    "full": {
        "bj_images": 100_000,
        "bj_boxes": 300,
        "bj_general": 40,
        "sj_points": 40_000,
        "sj_polygons": 101_000,
        "sj_extents": 30_000,
        "il_rows": 250_000,
    },
    "tiny": {
        "bj_images": 4_000,
        "bj_boxes": 30,
        "bj_general": 10,
        "sj_points": 4_000,
        "sj_polygons": 101_000,
        "sj_extents": 2_000,
        "il_rows": 4_000,
    },
}

N_FILES = 8
FORMATS = np.array(["jpeg", "png", "webp"])
TS_START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00
TS_SPAN_US = 2 * 365 * 86_400_000_000
HOT_CELL_TIER = 10
# the joins workload's two input sets keep separate generator streams
_PART_SALT = {"broadcast_join": 1, "shuffle_join": 2, "indexed_lookup": 3}


@dataclass(frozen=True)
class Inputs:
    workload: str
    seed: int
    scale: str
    root: Path

    def path(self, table: str) -> str:
        return str(self.root / table)

    def part(self, name: str) -> "Inputs":
        """The input set of one part of a composite workload."""
        return Inputs(self.workload, self.seed, self.scale, self.root / name)


def _write(table: pa.Table, out: Path, n_files: int = N_FILES) -> None:
    out.mkdir(parents=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, out / f"part-{i:03d}.parquet", row_group_size=16_384)


def _phash(lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """Inverse of sqlcells.lon_from_phash / lat_from_phash."""
    hi = np.floor((lon + 180.0) / 360.0 * 2.0**32).astype(np.uint64)
    lo = np.floor((lat + 90.0) / 180.0 * 2.0**32).astype(np.uint64)
    hi = np.minimum(hi, np.uint64(2**32 - 1))
    lo = np.minimum(lo, np.uint64(2**32 - 1))
    return ((hi << np.uint64(32)) | lo).view(np.int64)


# The seed moves positions only.  Sizes come from fixed log-spaced sets in
# a seeded order, and points are uniform over the globe, so the amount of
# work (candidates, output rows, refine rows) hardly changes with the seed
# and run-to-run spread measures the engine, not the draw.

def _uniform_points(rng, n: int) -> tuple[np.ndarray, np.ndarray]:
    return rng.uniform(-180.0, 180.0, n), rng.uniform(-90.0, 90.0, n)


def _sizes(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """n log-spaced values from lo to hi, in a seeded order."""
    return rng.permutation(np.exp(np.linspace(np.log(lo), np.log(hi), n)))


def _box_wkt(x0, y0, x1, y1) -> str:
    return f"POLYGON (({x0!r} {y0!r}, {x1!r} {y0!r}, {x1!r} {y1!r}, {x0!r} {y1!r}, {x0!r} {y0!r}))"


def _ring(xs, ys) -> str:
    pts = list(zip(xs, ys)) + [(xs[0], ys[0])]
    return "(" + ", ".join(f"{x!r} {y!r}" for x, y in pts) + ")"


def _star_wkt(rng, cx: float, cy: float, r: float, n: int, holed: bool) -> str:
    """Concave star with n vertices; optionally a square hole."""
    ang = np.linspace(0.0, 2 * np.pi, n, endpoint=False) + rng.uniform(0, 0.1)
    rad = np.where(np.arange(n) % 2 == 0, r, r * 0.45)
    xs = (cx + rad * np.cos(ang)).tolist()
    ys = (cy + rad * np.sin(ang)).tolist()
    rings = [_ring(xs, ys)]
    if holed:
        h = r * 0.2
        # clockwise hole around the centre, well inside the inner radius
        hx = [cx - h, cx - h, cx + h, cx + h]
        hy = [cy - h, cy + h, cy + h, cy - h]
        rings.append(_ring(hx, hy))
    return "POLYGON (" + ", ".join(rings) + ")"


def _gen_broadcast_join(rng, s: dict, out: Path) -> None:
    n = s["bj_images"]
    lon, lat = _uniform_points(rng, n)
    sizes = rng.integers(32, 160, n)
    offsets = np.concatenate([[0], np.cumsum(sizes)]).astype(np.int32)
    payload = rng.integers(0, 256, int(offsets[-1]), dtype=np.uint8)
    images = pa.table({
        "image_id": pa.array(np.arange(n, dtype=np.int64)),
        "bytes": pa.BinaryArray.from_buffers(
            pa.binary(), n, [None, pa.py_buffer(offsets), pa.py_buffer(payload)]
        ),
        "w": pa.array(rng.integers(64, 4096, n).astype(np.int32)),
        "h": pa.array(rng.integers(64, 4096, n).astype(np.int32)),
        "fmt": pa.array(FORMATS[rng.integers(0, 3, n)]),
        "caption": pa.array([f"img {i}" for i in range(n)]),
        "phash": pa.array(_phash(lon, lat)),
    })
    _write(images, out / "images")

    wkts = [_box_wkt(-180.0, -90.0, 180.0, 90.0)]  # world box
    # antimeridian boxes in unwrapped form (x1 > 180)
    for w, h in zip(_sizes(rng, 5.0, 30.0, 8), _sizes(rng, 2.0, 20.0, 8)):
        x0 = rng.uniform(160.0, 178.0)
        y0 = rng.uniform(-60.0, 40.0)
        wkts.append(_box_wkt(x0, y0, x0 + w, y0 + h))
    nb = s["bj_boxes"] - len(wkts)
    for w, ratio in zip(_sizes(rng, 0.05, 60.0, nb), rng.permutation(np.linspace(0.3, 1.5, nb))):
        hgt = w * ratio
        x0 = rng.uniform(-180.0, 180.0 - w)
        y0 = rng.uniform(-90.0, max(-89.0, 90.0 - hgt))
        wkts.append(_box_wkt(x0, y0, x0 + w, min(90.0, y0 + hgt)))
    for i, r in enumerate(_sizes(rng, 0.2, 4.0, s["bj_general"])):
        cx = rng.uniform(-175.0 + r, 175.0 - r)
        cy = rng.uniform(-85.0 + r, 85.0 - r)
        wkts.append(_star_wkt(rng, cx, cy, r, n=12 + 2 * (i % 15), holed=i % 2 == 0))
    _write(_polygon_table(wkts), out / "polygons", n_files=1)


def _polygon_table(wkts: list[str]) -> pa.Table:
    return pa.table({
        "polygon_id": pa.array([str(i) for i in range(len(wkts))]),
        "wkt": pa.array(wkts),
    })


def hot_cell_box(seed: int) -> tuple[float, float, float, float]:
    """The tier-10 cell that holds a quarter of the shuffle_join points."""
    rng = np.random.default_rng([seed, 7])
    nx, ny = 1 << HOT_CELL_TIER, 1 << HOT_CELL_TIER
    cx = int(rng.integers(nx // 4, 3 * nx // 4))
    cy = int(rng.integers(ny // 4, 3 * ny // 4))
    w, h = 360.0 / nx, 180.0 / ny
    return (-180.0 + cx * w, -90.0 + cy * h, -180.0 + (cx + 1) * w, -90.0 + (cy + 1) * h)


def _gen_shuffle_join(rng, s: dict, out: Path, seed: int) -> None:
    n = s["sj_points"]
    lon, lat = _uniform_points(rng, n)
    hx0, hy0, hx1, hy1 = hot_cell_box(seed)
    hot = n // 4
    # strictly inside the hot cell so every hot point keys to it
    lon[:hot] = rng.uniform(hx0 + 1e-6, hx1 - 1e-6, hot)
    lat[:hot] = rng.uniform(hy0 + 1e-6, hy1 - 1e-6, hot)
    perm = rng.permutation(n)
    _write(pa.table({
        "image_id": pa.array(np.arange(n, dtype=np.int64)),
        "lon": pa.array(lon[perm]),
        "lat": pa.array(lat[perm]),
    }), out / "points")

    m = s["sj_polygons"]
    n_hot = 8
    cx = rng.uniform(-179.0, 179.0, m)
    cy = rng.uniform(-89.0, 89.0, m)
    # the hot polygons all cover the hot cell's centre with the same size,
    # so the hot cell's candidate count does not swing with the seed
    cx[:n_hot] = (hx0 + hx1) / 2
    cy[:n_hot] = (hy0 + hy1) / 2
    r = _sizes(rng, 0.02, 0.5, m)
    r[:n_hot] = 0.12
    k = rng.permutation(3 + np.arange(m) % 4)
    # vertices at sorted random angles, 3-6 per polygon, padded to 6 and
    # cut per row when written out
    ang = np.sort(rng.uniform(0.0, 2 * np.pi, (m, 6)), axis=1)
    rad = r[:, None] * rng.uniform(0.5, 1.0, (m, 6))
    xs = cx[:, None] + rad * np.cos(ang)
    ys = np.clip(cy[:, None] + rad * np.sin(ang), -90.0, 90.0)
    keep = np.arange(6)[None, :] < k[:, None]
    bb = np.column_stack([
        np.where(keep, xs, np.inf).min(axis=1), np.where(keep, ys, np.inf).min(axis=1),
        np.where(keep, xs, -np.inf).max(axis=1), np.where(keep, ys, -np.inf).max(axis=1),
    ])
    wkts = ["POLYGON (" + _ring(xs[i, :k[i]].tolist(), ys[i, :k[i]].tolist()) + ")" for i in range(m)]
    t = _polygon_table(wkts)
    for j, c in enumerate(("x0", "y0", "x1", "y1")):
        t = t.append_column(c, pa.array(bb[:, j]))
    _write(t, out / "polygons")

    e = s["sj_extents"]
    ex, ey = _uniform_points(rng, e)
    ew = _sizes(rng, 0.01, 1.0, e)
    eh = ew * rng.permutation(np.linspace(0.3, 1.5, e))
    ex = np.minimum(ex, 180.0 - ew)
    ey = np.minimum(ey, 90.0 - eh)
    _write(pa.table({
        "extent_id": pa.array(np.arange(e, dtype=np.int64)),
        "x0": pa.array(ex), "y0": pa.array(ey),
        "x1": pa.array(ex + ew), "y1": pa.array(ey + eh),
    }), out / "extents")


def _gen_indexed_lookup(rng, s: dict, out: Path) -> None:
    n = s["il_rows"]
    lon, lat = _uniform_points(rng, n)
    ts = TS_START_US + rng.integers(0, TS_SPAN_US, n)
    _write(pa.table({
        "id": pa.array(np.arange(n, dtype=np.int64)),
        "lon": pa.array(lon),
        "lat": pa.array(lat),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "value": pa.array(np.round(rng.uniform(0.0, 100.0, n), 3)),
        "category": pa.array(np.array(["a", "b", "c", "d"])[rng.integers(0, 4, n)]),
    }), out / "rows")


def ensure_inputs(workload: str, seed: int, scale: str, cache: Path) -> tuple[Inputs, bool]:
    """Return the cached inputs, generating them first if absent.  The
    second value tells whether they were generated in this call."""
    root = cache / "inputs" / f"{workload}-{scale}-s{seed}"
    if root.is_dir():
        return Inputs(workload, seed, scale, root), False
    tmp = root.with_name(root.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    s = SCALES[scale]

    def rng(part: str):
        return np.random.default_rng([seed, _PART_SALT[part]])

    if workload == "joins":
        _gen_broadcast_join(rng("broadcast_join"), s, tmp / "broadcast_join")
        _gen_shuffle_join(rng("shuffle_join"), s, tmp / "shuffle_join", seed)
    else:
        _gen_indexed_lookup(rng("indexed_lookup"), s, tmp)
    tmp.rename(root)
    _prune(root.parent, keep=root)
    return Inputs(workload, seed, scale, root), True


def _prune(parent: Path, keep: Path, max_sets: int = 6) -> None:
    """Bound the cache: drop the least recently written input sets."""
    sets = sorted((p for p in parent.iterdir() if p.is_dir() and p != keep),
                  key=lambda p: p.stat().st_mtime)
    for old in sets[: max(0, len(sets) - (max_sets - 1))]:
        shutil.rmtree(old, ignore_errors=True)

