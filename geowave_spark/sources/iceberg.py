"""Iceberg integration for the cell-indexed storage layout.

The north rule stores image+caption rows in Iceberg tables; the engine's
stored index (sources/indexed.py: finest-tier SFC cell column, files
range-partitioned and sorted by it) maps onto Iceberg as:

* ``WRITE ORDERED BY (cell)`` — Iceberg's sort-order metadata makes every
  data file carry cell min/max stats, so the same sargable cell-range
  predicates prune at FILE granularity (plus row-group granularity inside
  each parquet file) — the columnar twin of the reference's KV range scan
  (BaseDataStore.java:817-925 commit/scan semantics);
* snapshot ids as checkpoint fingerprints — `CheckpointedPipeline` resumes
  iff its input snapshot is unchanged, replacing the parquet fallback's
  content fingerprint with Iceberg's atomic-commit lineage;
* time travel (`VERSION AS OF`) for reproducible re-runs.

CAPABILITY GATING: this container ships no iceberg-spark-runtime jar and
has no network access, so the real Iceberg calls cannot execute here.
Every Iceberg-only entry point first checks :func:`iceberg_available`;
when the runtime is absent the unified :class:`IndexedStore` facade falls
back to the plain-parquet indexed layout (sources/indexed.py), which is
fully integration-tested and produces the identical physical plan shape
(sorted files + min/max pruning).  On a cluster, add the
``iceberg-spark-runtime`` jar and the :data:`ICEBERG_SESSION_CONF`
settings and the same code paths run against real Iceberg tables.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession

from . import indexed

CATALOG = "geowave"

#: SparkSession configs enabling a Hadoop-catalog Iceberg deployment;
#: pass ``spark.sql.catalog.geowave.warehouse=<path>`` alongside.
ICEBERG_SESSION_CONF = {
    "spark.sql.extensions": (
        "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
    ),
    f"spark.sql.catalog.{CATALOG}": "org.apache.iceberg.spark.SparkCatalog",
    f"spark.sql.catalog.{CATALOG}.type": "hadoop",
}


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is loadable by SPARK's
    classloader.  java.lang.Class.forName would use the app classloader,
    which cannot see jars added via --packages/--jars — a false negative
    on exactly the clusters that have Iceberg (round-3 review); Spark's
    Utils.classForName resolves through the session's MutableURLClassLoader.
    """
    try:
        spark.sparkContext._jvm.org.apache.spark.util.Utils.classForName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog", True, False
        )
        return True
    except Exception:
        # fall back to the plain probe (Utils signature differences), then
        # report unavailable only if both loaders miss
        try:
            spark.sparkContext._jvm.java.lang.Class.forName(  # noqa: SLF001
                "org.apache.iceberg.spark.SparkCatalog"
            )
            return True
        except Exception:
            return False


def write_ordered_ddl(table: str, order_col: str = "cell") -> str:
    """DDL pinning Iceberg's sort order to the SFC cell — makes every
    subsequent write produce cell-clustered files with min/max stats."""
    return f"ALTER TABLE {table} WRITE ORDERED BY ({order_col})"


def write_indexed_iceberg(
    df: DataFrame,
    table: str,
    n_files: int = 32,
    lon_col: str = "lon",
    lat_col: str = "lat",
    phash_col: str | None = "phash",
) -> None:
    """Write a cell-indexed Iceberg table (requires the runtime jar).

    Same layout contract as indexed.write_indexed: finest-tier cell
    column, range-partitioned across files, sorted within — here enforced
    durably via Iceberg sort-order metadata so compactions keep it.
    """
    spark = df.sparkSession
    if not iceberg_available(spark):
        raise RuntimeError(
            "Iceberg Spark runtime not on classpath; use IndexedStore for "
            "the parquet fallback or add iceberg-spark-runtime + "
            "ICEBERG_SESSION_CONF"
        )
    out = indexed.with_cell_column(df, lon_col, lat_col, phash_col)
    indexed._sorted_layout(out, n_files, "cell").writeTo(table).using("iceberg").createOrReplace()
    spark.sql(write_ordered_ddl(table))


def snapshot_id(spark: SparkSession, table: str) -> int:
    """Current snapshot id (checkpoint fingerprint source)."""
    row = spark.sql(
        f"SELECT snapshot_id FROM {table}.snapshots "
        "ORDER BY committed_at DESC LIMIT 1"
    ).collect()
    return int(row[0][0]) if row else 0


def read_snapshot(spark: SparkSession, table: str, snap: int | None = None) -> DataFrame:
    """Read a table, optionally pinned to a snapshot (time travel)."""
    if snap is None:
        return spark.table(table)
    return spark.read.option("snapshot-id", str(snap)).table(table)


def parquet_fingerprint(path: str) -> str:
    """Content fingerprint for the parquet fallback: file names + sizes +
    mtimes — changes on any append/overwrite, stable across re-reads.
    The Iceberg twin is the snapshot id."""
    h = hashlib.sha256()
    if os.path.isdir(path):
        for name in sorted(os.listdir(path)):
            st = os.stat(os.path.join(path, name))
            h.update(f"{name}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


class IndexedStore:
    """Unified cell-indexed store: Iceberg when the runtime is present,
    plain-parquet indexed layout otherwise — one API either way.

    ``location`` is an Iceberg table name (``catalog.ns.tbl``) or a
    parquet path; the mode is chosen once at construction.
    """

    def __init__(self, spark: SparkSession, location: str, force_parquet: bool = False):
        self.spark = spark
        self.location = location
        self.iceberg = (not force_parquet) and iceberg_available(spark)

    def write(self, df: DataFrame, n_files: int = 32, **kw) -> None:
        if self.iceberg:
            write_indexed_iceberg(df, self.location, n_files, **kw)
        else:
            indexed.write_indexed(df, self.location, n_files, **kw)

    def read(self) -> DataFrame:
        if self.iceberg:
            return self.spark.table(self.location)
        return self.spark.read.parquet(self.location)

    def range_lookup(
        self, bbox, loose: bool = False, lon_col: str = "lon", lat_col: str = "lat"
    ) -> DataFrame:
        """Sargable cell-range scan + wrap-aware refine; the predicate
        reaches the scan as PushedFilters in both modes (Iceberg adds
        file-level pruning from the pinned sort order).  ``lon_col`` /
        ``lat_col`` mirror write()'s overrides — a store written with
        custom coordinate columns is queried with the same names."""
        return indexed.range_filter_frame(self.read(), bbox, lon_col, lat_col, loose)

    def fingerprint(self) -> str:
        """Checkpoint fingerprint: snapshot id (Iceberg) or content hash
        (parquet) — feed this to CheckpointedPipeline.stage()."""
        if self.iceberg:
            return f"snap:{snapshot_id(self.spark, self.location)}"
        return f"pq:{parquet_fingerprint(self.location)}"
