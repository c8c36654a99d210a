"""Store maintenance for the cell-indexed layout: append + compaction.

The reference's KV backends (Accumulo/HBase tablet servers) give it
log-structured-merge maintenance for free: ingest appends sorted runs,
the store compacts them in the background, and range scans always see
one logically-sorted keyspace (BaseDataStore ingest paths; the
tablet-compaction behavior the ITs rely on).  A columnar lake has no
tablet server, so the engine ships the maintenance operators explicitly
— the missing piece that makes the stored layout (sources/indexed.py)
usable for CONTINUOUS ingest at 100 TB rather than one-shot bulk loads:

- ``write_store``   initial bulk write → generation-0 base run (the
                    one-shot ``indexed.write_indexed`` layout)
- ``append_store``  a new batch → its own range-partitioned, sorted
                    delta run (never rewrites existing data; commits by
                    atomic manifest swap)
- ``read_store``    scan base + live deltas; every run is sorted by
                    cell, so parquet row-group min-max pruning applies
                    per run and pushed cell-range predicates stay sargable
- ``lookup_store``  bbox lookup over ``read_store`` — the shared
                    ``indexed.range_filter_frame`` with the manifest's
                    key columns and bounds
- ``compact_store`` merge all live runs into a new base generation
                    (split points re-derived from the merged
                    distribution) and swap the manifest atomically; the
                    dead runs stay on disk until ``vacuum_store`` (or
                    ``vacuum=True`` when no reader can hold the previous
                    manifest)

Every run is written with the same layout rule as the one-shot store
(``indexed._sorted_layout``: range-partition by cell, sort within files).

Correctness model: readers resolve the manifest once per query; the
manifest is a single JSON file replaced via os.replace (POSIX-atomic), so
a reader sees either the pre- or post-compaction run list, never a mix.
Single-writer by design — the reference's bulk-ingest tools make the
same assumption; coordinate writers externally (as you would for any
lake-table maintenance job without a transactional catalog; on Iceberg
the manifest maps onto snapshots and this module is unnecessary).

Scale notes: an append shuffles ONLY the new batch (repartitionByRange
on the incoming rows); compaction is the only operation that rewrites
history, it streams scan→shuffle→write with no driver materialization,
and between compactions queries pay one extra parquet listing per live
delta — the classic LSM read/write amplification trade, surfaced here as
an explicit, schedulable Spark job instead of a tablet-server heuristic.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .indexed import (
    _sorted_layout, ensure_parallelism, range_filter_frame, with_cell_column, write_indexed,
)

_MANIFEST = "_manifest.json"


def _manifest_path(root: str) -> str:
    return os.path.join(root, _MANIFEST)


def _read_manifest(root: str) -> dict:
    with open(_manifest_path(root)) as f:
        return json.load(f)


def _swap_manifest(root: str, manifest: dict) -> None:
    """POSIX-atomic commit: readers see the old or new manifest, never a
    torn one."""
    tmp = _manifest_path(root) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, _manifest_path(root))


def _run_stats(df_written: DataFrame) -> dict:
    r = df_written.agg(
        F.count("*").alias("rows"),
        F.min("cell").alias("min_cell"),
        F.max("cell").alias("max_cell"),
    ).collect()[0]
    return {"rows": r["rows"], "min_cell": r["min_cell"], "max_cell": r["max_cell"]}


def write_store(
    df: DataFrame,
    root: str,
    n_files: int = 32,
    lon_col: str = "lon",
    lat_col: str = "lat",
    phash_col: str | None = "phash",
    bounds=None,
) -> dict:
    """Initial bulk load: generation-0 base run + fresh manifest."""
    os.makedirs(root, exist_ok=True)
    run = "base_g0"
    # the base run IS the one-shot indexed layout — one write path to keep
    write_indexed(
        df, os.path.join(root, run), n_files=n_files,
        lon_col=lon_col, lat_col=lat_col, phash_col=phash_col, bounds=bounds,
    )
    spark = df.sparkSession
    stats = _run_stats(spark.read.parquet(os.path.join(root, run)))
    manifest = {
        "generation": 0,
        "base": run,
        "deltas": [],
        "next_delta": 0,
        "key": {"lon_col": lon_col, "lat_col": lat_col, "phash_col": phash_col,
                "bounds": list(bounds) if bounds else None},
        "runs": {run: stats},
        "updated_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    _swap_manifest(root, manifest)
    return manifest


def append_store(df: DataFrame, root: str, n_files: int = 8) -> dict:
    """Append a batch as its own sorted delta run; commit via manifest swap.

    Only the incoming rows shuffle — existing runs are immutable.  The new
    run is range-partitioned and cell-sorted like the base, so row-group
    pruning works inside it immediately (no compaction required for
    correctness, only for read amplification)."""
    m = _read_manifest(root)
    k = m["key"]
    run = f"delta_{m['next_delta']:05d}"
    bounds = tuple(k["bounds"]) if k["bounds"] else None
    # a crashed earlier append may have left an orphan dir for this run
    # name (the counter only advances at commit) — clear it, then write
    _drop_orphan(root, run, m)
    out = with_cell_column(df, k["lon_col"], k["lat_col"], k["phash_col"], bounds=bounds)
    path = os.path.join(root, run)
    _sorted_layout(out, n_files, "cell").write.mode("errorifexists").parquet(path)
    stats = _run_stats(df.sparkSession.read.parquet(path))
    m["deltas"].append(run)
    m["next_delta"] += 1
    m["runs"][run] = stats
    m["updated_utc"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    _swap_manifest(root, m)
    return m


def _drop_orphan(root: str, run: str, manifest: dict) -> None:
    """Remove a run directory left by a crashed pre-commit write.

    Safe by construction: `run` is the NEXT name the caller is about to
    write, and the manifest (the source of truth) does not reference it —
    so anything on disk under that name is dead state from a failed
    attempt, and a retry must not wedge on write.mode("errorifexists")."""
    assert run not in manifest["runs"], "refusing to drop a live run"
    path = os.path.join(root, run)
    if os.path.exists(path):
        shutil.rmtree(path)


def live_runs(root: str) -> list[str]:
    m = _read_manifest(root)
    return [m["base"], *m["deltas"]]


def vacuum_store(root: str) -> list[str]:
    """Remove run directories no longer referenced by the manifest.

    The lake-style GC step: compaction commits first (manifest swap) and
    leaves dead runs on disk so queries planned against the previous
    manifest finish scanning; run vacuum after such readers have drained
    (the same contract as Iceberg's expire-snapshots / Delta VACUUM).
    Returns the removed run names."""
    m = _read_manifest(root)
    live = {m["base"], *m["deltas"]}
    removed = []
    for name in sorted(os.listdir(root)):
        p = os.path.join(root, name)
        if not os.path.isdir(p) or name in live:
            continue
        if name.startswith("base_g") or name.startswith("delta_"):
            shutil.rmtree(p, ignore_errors=True)
            removed.append(name)
    return removed


def read_store(spark: SparkSession, root: str) -> DataFrame:
    """Scan the live run set (base + deltas) as one DataFrame."""
    paths = [os.path.join(root, r) for r in live_runs(root)]
    return ensure_parallelism(spark.read.parquet(*paths))


def lookup_store(
    spark: SparkSession, root: str, bbox: tuple[float, float, float, float],
) -> DataFrame:
    """Points in ``bbox`` across all live runs: the shared stored-cell
    lookup (indexed.range_filter_frame) over the manifest's key columns
    and bounds — pushed per run, pruned by each run's sorted row groups,
    antimeridian-aware in the world frame."""
    k = _read_manifest(root)["key"]
    bounds = tuple(k["bounds"]) if k["bounds"] else None
    return range_filter_frame(
        read_store(spark, root), bbox, k["lon_col"], k["lat_col"], bounds=bounds
    )


def maybe_compact(
    spark: SparkSession,
    root: str,
    max_deltas: int = 8,
    delta_fraction: float = 0.5,
    n_files: int = 32,
    vacuum: bool = False,
) -> dict | None:
    """Schedulable compaction policy: compact when the delta count exceeds
    ``max_deltas`` OR the deltas hold more than ``delta_fraction`` of the
    store's rows (the size-tiered trigger a tablet server applies
    implicitly).  Returns the new manifest when compaction ran, else None
    — call it after every append (cheap: one manifest read) or from a
    cron'd maintenance job."""
    m = _read_manifest(root)
    if not m["deltas"]:
        return None
    delta_rows = sum(m["runs"][r]["rows"] for r in m["deltas"])
    total = sum(s["rows"] for s in m["runs"].values())
    if len(m["deltas"]) > max_deltas or (total and delta_rows / total > delta_fraction):
        return compact_store(spark, root, n_files=n_files, vacuum=vacuum)
    return None


def compact_store(
    spark: SparkSession, root: str, n_files: int = 32, vacuum: bool = False
) -> dict:
    """Merge all live runs into generation N+1; swap; optionally vacuum.

    The rewrite is a single scan → range shuffle → sorted write (no
    driver collect); the manifest swap is the commit point.  A crashed
    earlier attempt's orphan target directory is cleared before writing,
    so compaction retries never wedge.  Vacuum is OPT-IN (r4 ADVICE:
    eager deletion raced queries planned against the previous manifest —
    readers are separate processes even in the single-writer model):
    compaction only commits the swap and leaves dead runs on disk; run
    `vacuum_store` after in-flight readers drain, or pass ``vacuum=True``
    when the caller KNOWS no reader holds the old manifest (the
    expire-snapshots contract).  The new base's
    stats are derived from the live runs' recorded stats — the merge
    changes layout, not content, so compaction never re-scans its own
    output."""
    m = _read_manifest(root)
    old_runs = [m["base"], *m["deltas"]]
    gen = m["generation"] + 1
    new_base = f"base_g{gen}"
    _drop_orphan(root, new_base, m)
    df = spark.read.parquet(*[os.path.join(root, r) for r in old_runs])
    path = os.path.join(root, new_base)
    _sorted_layout(df, n_files, "cell").write.mode("errorifexists").parquet(path)
    olds = [m["runs"][r] for r in old_runs]
    nonempty = [s for s in olds if s["rows"]]
    stats = {
        "rows": sum(s["rows"] for s in olds),
        "min_cell": min(s["min_cell"] for s in nonempty) if nonempty else None,
        "max_cell": max(s["max_cell"] for s in nonempty) if nonempty else None,
    }
    new_m = {
        **m,
        "generation": gen,
        "base": new_base,
        "deltas": [],
        "runs": {new_base: stats},
        "updated_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    _swap_manifest(root, new_m)
    if vacuum:
        vacuum_store(root)
    return new_m
