"""Distributed DBSCAN via cell-ring self-join + label propagation.

Re-expresses the reference's DBSCAN (analytics/mapreduce/.../dbscan/
DBScanMapReduce.java — repeated NN passes with cluster-merge) as Spark
primitives:

1. neighbor pairs: the kNN candidate machinery (cells at the tier whose
   cell side >= eps, 3x3 ring expansion) → planar-distance filter <= eps —
   a single cell equi-join, no cross join;
2. core points: neighbor count >= min_pts (the point itself included,
   standard DBSCAN);
3. clusters: connected components over the core-core neighbor graph by
   ``dedup.label_components``, the engine's one min-label propagation
   (each round: label = min(label over core neighbors ∪ self); converges
   in O(graph diameter) rounds, each a shuffle join — the Spark analog of
   the reference's merge iterations); a component deeper than
   ``max_iter`` hops raises RuntimeError;
4. border points: non-core points adopt the smallest cluster label among
   their core neighbors; noise keeps label NULL.

Cluster labels are the minimum point id in the component — deterministic,
so tests compare exactly against a local numpy oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import label_components
from .knn import distance_candidates


def neighbor_pairs(
    points: DataFrame,
    eps: float,
    id_col: str = "event_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    bounds=None,
) -> DataFrame:
    """(id_a, id_b) within eps (both directions, self included)."""
    q = points.select(
        F.col(id_col).alias("query_id"), F.col(lon_col), F.col(lat_col)
    ).withColumn("max_distance", F.lit(float(eps)))
    nb = distance_candidates(
        points, q, point_id=id_col, query_id="query_id",
        q_lon=lon_col, q_lat=lat_col,  # q derives from the same table
        p_lon=lon_col, p_lat=lat_col, broadcast_queries=False, bounds=bounds,
    )
    return nb.select(F.col("query_id").alias("id_a"), F.col(id_col).alias("id_b"))


def dbscan(
    points: DataFrame,
    eps: float,
    min_pts: int,
    id_col: str = "event_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    max_iter: int = 50,
    bounds=None,
) -> DataFrame:
    """(id, cluster, is_core) — cluster NULL for noise.  ``bounds`` runs
    the neighbor ring in a projected frame (custom-CRS index math)."""
    # localCheckpoint (not persist): each frame feeds several plan branches
    # and the loop below; blocks are ContextCleaner-reclaimed on GC instead
    # of pinning executor storage for the session lifetime
    pairs = neighbor_pairs(points, eps, id_col, lon_col, lat_col, bounds=bounds).localCheckpoint()
    counts = pairs.groupBy("id_a").agg(F.count(F.lit(1)).alias("n_nb"))
    core = (
        counts.filter(F.col("n_nb") >= min_pts)
        .select(F.col("id_a").alias("id"))
        .localCheckpoint()
    )

    # core-core edges only (border points never merge clusters)
    cc = (
        pairs.join(core.withColumnRenamed("id", "id_a"), "id_a")
        .join(core.withColumnRenamed("id", "id_b"), "id_b")
        .select("id_a", "id_b")
        .localCheckpoint()
    )

    labels = label_components(
        core.select(F.col("id").alias("doc_id")),
        # one orientation per edge: label_components adds the reverse
        cc.filter(F.col("id_a") < F.col("id_b")).select(
            F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
        ),
        max_iter,
    )
    core_labels = labels.select(F.col("doc_id").alias("id"), F.col("canonical_id").alias("cluster"))
    # the inner join with core_labels already restricts id_b to core ids
    # (labels is built from core) — no separate membership join needed
    border = (
        pairs.join(core_labels.withColumnRenamed("id", "id_b"), "id_b")
        .groupBy("id_a")
        .agg(F.min("cluster").alias("_bcluster"))
        .withColumnRenamed("id_a", "id")
    )
    out = (
        points.select(F.col(id_col).alias("id"))
        .join(core_labels.withColumn("is_core", F.lit(True)), "id", "left")
        .join(border, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("cluster"), F.col("_bcluster")).alias("cluster"),
            F.coalesce(F.col("is_core"), F.lit(False)).alias("is_core"),
        )
    )
    return out


def dbscan_oracle_numpy(ids, lon, lat, eps: float, min_pts: int):
    """Local reference implementation for tests (classic DBSCAN, min-id
    labels)."""
    import numpy as np

    n = len(ids)
    d2 = (lon[:, None] - lon[None, :]) ** 2 + (lat[:, None] - lat[None, :]) ** 2
    nb = d2 <= eps * eps
    n_nb = nb.sum(axis=1)
    is_core = n_nb >= min_pts
    # union-find over core-core edges
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in range(n):
        if not is_core[i]:
            continue
        for j in range(i + 1, n):
            if is_core[j] and nb[i, j]:
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
    cluster = [None] * n
    comp_min: dict[int, int] = {}
    for i in range(n):
        if is_core[i]:
            r = find(i)
            comp_min.setdefault(r, min(ids[j] for j in range(n) if is_core[j] and find(j) == r))
            cluster[i] = comp_min[r]
    for i in range(n):
        if not is_core[i]:
            cands = [cluster[j] for j in range(n) if is_core[j] and nb[i, j]]
            cluster[i] = min(cands) if cands else None
    return [(int(ids[i]), cluster[i], bool(is_core[i])) for i in range(n)]
