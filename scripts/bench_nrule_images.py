"""North-rule image-table benchmark — reproducible producer for the
`evidence/bench_nrule_images_*.json` artifacts.

Runs the BASELINE.json metric verbatim: spatial join + tiling over the
input_hint-shaped image+caption table (image_id, bytes, w, h, fmt,
caption, phash) — positions derived from phash (sqlcells.lon/lat_from_
phash, the same ops the driver's image_tile_counts oracle regenerates in
DuckDB), the 19-polygon workload (FIXTURES.md §2), and pyramid tile
counts at levels 4/6/8.  Bytes are carried in the table but never
scanned by the workload (column pruning — plan-asserted in
tests/test_plans.py).

Usage:
    python scripts/bench_nrule_images.py --n 1000000 --cpus 32
    python scripts/bench_nrule_images.py --n 1000000 --cpus 1,4 \
        --out evidence/bench_nrule_scaling.json

With two cpu levels the output includes the two-cluster-size scaling
efficiency the north rule asks for (throughput_big / (throughput_small *
ratio)) — the sandbox analog of N vs 4N executors (see BENCH.md for why
core pairs above 8 threads are host-limited on this microVM).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run_once(cpus: int, n: int, passes: int = 2, work_mult: int = 1) -> dict:
    from geowave_spark.api import SpatialFrame
    from geowave_spark.operators import spatial_join, tiling
    from geowave_spark.session import get_spark
    from geowave_spark.sources import images

    spark = get_spark(f"nrule-{cpus}", cpus=cpus, shuffle_partitions=max(32, cpus))
    try:
        spark.range(1000).selectExpr("sum(id)").collect()  # warm JVM+workers
        path = images.ensure_images(spark, n)
        polys = images.generate_polygons(spark, 19)
        best = None
        for _ in range(passes):
            # work_mult > 1 repeats the identical workload inside the
            # timed region (scaling runs only): a single 1M-image pass is
            # seconds-scale, so fixed per-query overhead (planning, task
            # launch, broadcast) would otherwise dominate the 1-core leg
            # and understate parallel efficiency
            t0 = time.monotonic()
            df = SpatialFrame.from_images(spark.read.parquet(path)).df.select(
                "image_id", "lon", "lat"
            )
            for _k in range(work_mult):
                pairs = spatial_join.tiered_spatial_join(
                    df, polys, point_id="image_id"
                ).count()
            t1 = time.monotonic()
            for _k in range(work_mult):
                tile_rows = tiling.tile_counts(df, [4, 6, 8]).count()
            t2 = time.monotonic()
            rec = {
                "cpus": cpus,
                "work_mult": work_mult,
                "join_sec": round(t1 - t0, 3),
                "join_pairs": pairs,
                "tiles_sec": round(t2 - t1, 3),
                "tile_rows": tile_rows,
                "total_sec": round(t2 - t0, 3),
                "rows_per_sec": round(n * work_mult / (t2 - t0), 1),
            }
            if os.environ.get("NRULE_CELL_FAMILIES"):
                # r4c families over the same 1M-image frame: (a) S2
                # spherical INGEST (write_indexed_s2: key + range-partition
                # + sort — the stored-layout path, where range predicates
                # hit parquet stats instead of re-inlining the id
                # expression per range) + polar-cap lookup; (b) hex axial
                # keying (pure codegen groupBy)
                import tempfile

                from geowave_spark import cells_hex
                from geowave_spark.sources import indexed

                s2_path = os.path.join(
                    tempfile.gettempdir(), f"nrule_s2_{cpus}_{n}.parquet"
                )
                t3 = time.monotonic()
                indexed.write_indexed_s2(df, s2_path, n_files=max(8, cpus), phash_col=None)
                t4 = time.monotonic()
                rec["s2_polar_rows"] = indexed.s2_range_lookup(
                    spark, s2_path, (-180.0, 62.0, 180.0, 84.0)
                ).count()
                t5 = time.monotonic()
                hx = cells_hex.add_hex_cell_column(df)
                rec["hex_cells"] = hx.select("hex_cell").distinct().count()
                t6 = time.monotonic()
                rec["s2_ingest_sec"] = round(t4 - t3, 3)
                rec["s2_polar_lookup_sec"] = round(t5 - t4, 3)
                rec["hex_key_agg_sec"] = round(t6 - t5, 3)
            if best is None or rec["total_sec"] < best["total_sec"]:
                best = rec
        return best
    finally:
        spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=1_000_000)
    ap.add_argument("--cpus", default="32", help="comma-separated core counts")
    ap.add_argument("--out", default=None)
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--work-mult", type=int, default=1)
    args = ap.parse_args()
    if args.work_mult < 1:
        ap.error("--work-mult must be >= 1")
    levels = [int(c) for c in args.cpus.split(",")]
    runs = [run_once(c, args.n, args.passes, args.work_mult) for c in levels]
    out = {
        "workload": (
            "north-rule metric verbatim: spatial join + tiling over the "
            "image+caption table (input_hint schema), phash-derived "
            "positions, 19-polygon workload, pyramid levels 4/6/8; "
            "best-of-%d passes per level" % args.passes
        ),
        "n_images": args.n,
        "seed": 42,
        "runs": runs,
    }
    if len(runs) == 2:
        small, big = sorted(runs, key=lambda r: r["cpus"])
        ratio = big["cpus"] / small["cpus"]
        out["scaling_efficiency"] = round(
            big["rows_per_sec"] / (small["rows_per_sec"] * ratio), 4
        )
    line = json.dumps(out)
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
