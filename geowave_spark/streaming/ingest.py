"""Structured-Streaming ingest into the cell-indexed layout.

The reference has NO streaming engine — Kafka appears only as an ingest
source feeding the same KV writes (SURVEY.md §1.5), so batch parity needs
nothing here.  This module is the Spark-native equivalent of that ingest
path: a stream of point rows is keyed with the finest-tier cell and
appended to the indexed table, so everything downstream (joins, range
lookups, tiles) reads one layout regardless of how rows arrived.

    q = start_cell_ingest(spark.readStream.schema(s).parquet(in_dir), out_dir, ckpt)
    q.processAllAvailable()   # tests; production just lets it run

Watermarked tile-count aggregation is included as the streaming twin of
tiling.tile_counts (late rows beyond the watermark are dropped — standard
event-time semantics the reference never had).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import sqlcells
from ..sources.indexed import with_cell_column


def cell_keyed(stream: DataFrame, lon_col: str = "lon", lat_col: str = "lat",
               phash_col: str | None = "phash") -> DataFrame:
    """Add the finest-tier cell column to a streaming DataFrame."""
    return with_cell_column(stream, lon_col, lat_col, phash_col)


def start_cell_ingest(
    stream: DataFrame,
    out_path: str,
    checkpoint: str,
    lon_col: str = "lon",
    lat_col: str = "lat",
    phash_col: str | None = "phash",
    trigger: dict | None = None,
):
    """Append cell-keyed rows to parquet with exactly-once checkpointing.

    ``trigger``: kwargs for ``DataStreamWriter.trigger`` — default
    ``{"availableNow": True}`` drains what exists and stops (the test /
    backfill mode); pass e.g. ``{"processingTime": "30 seconds"}`` for a
    continuously-running production ingest."""
    keyed = cell_keyed(stream, lon_col, lat_col, phash_col)
    return (
        keyed.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def streaming_dedup(
    stream: DataFrame,
    key_col: str = "content_hash",
    order_col: str = "doc_id",
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Custom stateful operator: first-seen exact dedup across micro-batches
    (`applyInPandasWithState`).

    The streaming twin of the engine's exact dedup / DedupeFilter: only
    the FIRST row per ``key_col`` ever seen is emitted; later arrivals —
    same batch (ties broken by ``order_col``) or any later batch — are
    dropped.

    ``state_ttl_ms``: optional processing-time TTL bounding the state
    store on an unbounded key space (a duplicate arriving after the TTL
    re-emits — the standard production trade).  With a TTL the query runs
    continuous cleanup micro-batches, so `processAllAvailable` no longer
    terminates — use a real trigger interval in production; the default
    (no timeout) keeps exactly-once-per-key semantics forever and suits
    availableNow/batch-drain usage.

    Scale design: state is partitioned by the groupBy key across
    executors (RocksDB-backed state store on a real cluster), the batch
    side is Arrow-vectorized, and nothing is collected to the driver.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = stream.schema

    out_cols = [f.name for f in stream.schema.fields]

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            # hot-key fast path: a seen key emits nothing, so never
            # materialize its duplicate rows — one chunk gives the typed
            # empty frame, the rest of the iterator stays unconsumed
            if state_ttl_ms is not None:
                state.setTimeoutDuration(state_ttl_ms)
            chunk = next(iter(pdfs), None)
            yield chunk.head(0) if chunk is not None else pd.DataFrame(columns=out_cols)
            return
        # fresh key: streaming min by order_col — keep ONE candidate row
        # per chunk instead of concatenating the whole batch
        best = None
        empty = None
        for pdf in pdfs:
            if empty is None:
                empty = pdf.head(0)
            if len(pdf):
                cand = pdf.sort_values(order_col).head(1)
                best = (
                    cand
                    if best is None
                    else pd.concat([best, cand], ignore_index=True)
                    .sort_values(order_col)
                    .head(1)
                )
        if best is not None and len(best):
            state.update((True,))
            if state_ttl_ms is not None:
                state.setTimeoutDuration(state_ttl_ms)
            yield best
        else:
            yield empty if empty is not None else pd.DataFrame(columns=out_cols)

    return stream.groupBy(F.col(key_col)).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if state_ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def streaming_image_dedup(
    stream: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """First-seen PERCEPTUAL image dedup on a stream: decode → DCT pHash
    (Arrow-batched, works unchanged on streaming frames) → stateful
    first-seen-per-hash filter.

    The streaming twin of the batch `phash.image_neardup_pairs` exact-hash
    core (hamming-0 duplicates — re-encodes, byte copies — are dropped as
    they arrive; sub-hamming variants need the batch banded join).  Output:
    the stream's (id, phash64) rows for first-seen hashes only.  State is
    one boolean per distinct hash, partitioned across executors; the image
    bytes never enter the state store."""
    from ..functions import phash as ph

    sigs = ph.compute_phash(stream, id_col, bytes_col, fmt_col, out_col="phash64")
    return streaming_dedup(sigs, key_col="phash64", order_col=id_col,
                           state_ttl_ms=state_ttl_ms)


def streaming_tile_counts(
    stream: DataFrame,
    level: int,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    window: str = "5 minutes",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Windowed per-tile counts with late-data watermarking — the streaming
    twin of tiling.tile_counts."""
    # watermarks require TIMESTAMP (LTZ); NTZ sources cast via session tz
    stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        stream.withWatermark(ts_col, watermark)
        .withColumns({
            "tile_x": F.expr(sqlcells.tile_x_expr(sqlcells._col_ref(lon_col), level)),
            "tile_y": F.expr(sqlcells.tile_y_expr(sqlcells._col_ref(lat_col), level)),
        })
        .groupBy(F.window(F.col(ts_col), window), "tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.lit(level).alias("level"),
            "tile_x",
            "tile_y",
            "n",
        )
    )


def _require_broadcastable(op: str, build: DataFrame, wkt_col: str, batch_twin: str) -> None:
    """The streaming joins' one build-side guard: pin the broadcast path.
    Auto-routing would send an oversized build side into the shuffle join,
    whose batch-only operations (merge-hint sort-merge join,
    dropDuplicates, limit, localCheckpoint) raise on a streaming frame at
    query start — fail here with the real reason instead."""
    from ..operators import spatial_join

    if not spatial_join.probe_broadcastable(build, wkt_col):
        raise ValueError(
            f"{op}: build side too large to broadcast (probe_broadcastable "
            "failed) — the streaming join supports the broadcast build only; "
            f"pre-filter it or run the batch {batch_twin} on micro-batches "
            "via foreachBatch"
        )


def streaming_spatial_join(
    stream: DataFrame,
    polygons: DataFrame,
    predicate: str = "intersects",
    radius: float = 0.0,
    lon_col: str = "lon",
    lat_col: str = "lat",
    point_id: str = "image_id",
    polygon_id: str = "polygon_id",
    wkt_col: str = "wkt",
) -> DataFrame:
    """Tiered spatial join over a STREAM of points — unchanged operator.

    The broadcast tiered join is stateless (scan → Morton keys → explode →
    broadcast hash join → refine; no aggregation, no dedupe — pairs are
    exactly-once by construction for points), so the exact batch operator
    runs on an unbounded point side with no watermark and no state store.
    The polygon side must be a BATCH frame (it is collected driver-side
    for the cover, like any broadcast build side).

    The reference ingests Kafka into its KV store and joins later
    (SURVEY.md §1.5); this is the join running ON the stream itself —
    continuous enrichment of arriving rows.
    """
    from ..operators import spatial_join

    if not stream.isStreaming:
        raise ValueError("stream side must be a streaming DataFrame")
    if polygons.isStreaming:
        raise ValueError("polygon side must be a batch DataFrame (broadcast build)")
    _require_broadcastable("streaming_spatial_join", polygons, wkt_col, "tiered_spatial_join")
    return spatial_join.tiered_spatial_join(
        stream, polygons, predicate=predicate, radius=radius,
        lon_col=lon_col, lat_col=lat_col, point_id=point_id,
        polygon_id=polygon_id, wkt_col=wkt_col,
        broadcast_polygons=True,
    )


def streaming_geometry_join(
    stream: DataFrame,
    right: DataFrame,
    predicate: str = "intersects",
    radius: float = 0.0,
    left_id: str = "left_id",
    right_id: str = "right_id",
    left_wkt: str = "wkt",
    right_wkt: str = "wkt",
) -> DataFrame:
    """General geometry × geometry join over a STREAM of arbitrary WKT
    rows (r4 verdict ask #10 — the last batch operator family without a
    streaming twin).

    Same contract as the batch ``spatial_join.geometry_join`` with all 9
    predicates, running the operator's ``exactly_once=True`` plan: full
    (untrimmed) right covers + PBSM reference-point emission instead of
    pair-level ``dropDuplicates``, so the whole plan is STATELESS — scan →
    Arrow bbox → Column keys → broadcast hash join → codegen filters →
    Arrow refine — and therefore legal on an unbounded left side with no
    watermark and no state store.  The batch twin with the same flag
    returns identical rows (tests pin batch(exactly_once) == batch
    default == streaming output).

    The right side must be a BATCH frame small enough to broadcast (its
    cover is planned driver-side, like every broadcast build)."""
    from ..operators import spatial_join

    if not stream.isStreaming:
        raise ValueError("stream side must be a streaming DataFrame")
    if right.isStreaming:
        raise ValueError("right side must be a batch DataFrame (broadcast build)")
    if predicate not in spatial_join.GEOMETRY_JOIN_PREDICATES:
        raise ValueError(f"unknown predicate {predicate!r}")
    _require_broadcastable("streaming_geometry_join", right, right_wkt, "geometry_join_shuffle")
    if right.limit(1).count() == 0:
        raise ValueError(
            "streaming_geometry_join: empty right side (the batch empty-"
            "schema guard uses limit(0), which is illegal on a stream)"
        )
    # the guard above probed the right side; the broadcast build itself
    # runs without a second probe
    return spatial_join._geometry_join_broadcast(
        stream, right, predicate, radius, left_id, right_id, left_wkt, right_wkt,
        exactly_once=True,
    )


def streaming_zone_counts(
    stream: DataFrame,
    polygons: DataFrame,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    window: str = "5 minutes",
    lon_col: str = "lon",
    lat_col: str = "lat",
    point_id: str = "image_id",
    polygon_id: str = "polygon_id",
    wkt_col: str = "wkt",
) -> DataFrame:
    """Windowed per-polygon hit counts over a point stream: the streaming
    spatial join feeding an event-time aggregation (the streaming twin of
    zonal statistics).  Late rows beyond the watermark are dropped."""
    if ts_col not in stream.columns:
        raise ValueError(f"stream needs an event-time column {ts_col!r}")
    from ..operators import spatial_join

    stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    _require_broadcastable("streaming_zone_counts", polygons, wkt_col, "tiered_spatial_join")
    # the event time rides THROUGH the join as a carried point column — a
    # join-back by id would be a stream-stream self-join (illegal without
    # artificial time bounds); carry_cols keeps the plan one stateless map
    # side plus the single windowed aggregation
    joined = spatial_join.tiered_spatial_join(
        stream.withWatermark(ts_col, watermark),
        polygons,
        lon_col=lon_col, lat_col=lat_col, point_id=point_id,
        polygon_id=polygon_id, wkt_col=wkt_col,
        broadcast_polygons=True,
        carry_cols=(ts_col,),
    )
    return (
        joined.groupBy(F.window(F.col(ts_col), window), polygon_id)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), polygon_id, "n")
    )
