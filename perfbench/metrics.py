"""The benchmark's metric catalogue.

BENCHMARK.json lists the same names, units and directions; the smoke test
checks that the two agree.  Every workload prints every metric: a
per-layer metric a workload never exercises reads 0.

``PER_LAYER`` also records, for each per-layer metric, the end-to-end
metric and workload it is expected to move.
"""

from __future__ import annotations

# (name, unit, better, bound)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("throughput_rows_per_s", "rows/s", "higher", 0.25),
    ("cycle_p50_s", "s", "lower", 0.25),
    ("peak_pss_mb", "MB", "lower", 0.25),
]

# (name, unit, better, what it should move)
PER_LAYER = [
    ("session.start_s", "s", "lower", "setup_s, all workloads"),
    ("session.warmup_s", "s", "lower", "setup_s, all workloads"),
    ("scan.rows", "count", "lower", "range/cql part of cycle_p50_s on indexed_lookup"),
    ("scan.files", "count", "lower", "range/cql part of cycle_p50_s on indexed_lookup"),
    ("scan.bytes", "bytes", "lower", "cycle_p50_s on indexed_lookup; payload pruning on joins"),
    ("ingest.write_s", "s", "lower", "throughput_rows_per_s on indexed_lookup"),
    ("ingest.bytes_written", "bytes", "lower", "throughput_rows_per_s on indexed_lookup"),
    ("ingest.files", "count", "lower", "throughput_rows_per_s on indexed_lookup"),
    ("plan.build_s", "s", "lower", "cycle_p50_s on indexed_lookup"),
    ("plan.spark_jobs", "count", "lower", "cycle_p50_s on indexed_lookup"),
    ("plan.cover_s", "s", "lower", "cycle_p50_s on indexed_lookup"),
    ("plan.cover_cells", "count", "lower", "cycle_p50_s on indexed_lookup"),
    ("plan.query_ranges", "count", "lower", "cycle_p50_s on indexed_lookup"),
    ("cql.parse_s", "s", "lower", "cql part of cycle_p50_s on indexed_lookup"),
    ("keying.keys_per_point", "ratio", "lower", "throughput_rows_per_s on joins (broadcast part)"),
    ("join.candidates", "count", "lower", "throughput_rows_per_s on joins"),
    ("join.output_rows", "count", "higher", "fixed by the inputs; the base of join.hit_ratio"),
    ("join.hit_ratio", "ratio", "higher", "throughput_rows_per_s on joins"),
    ("refine.rows_in", "count", "lower", "throughput_rows_per_s on joins"),
    ("refine.rows_out", "count", "higher", "throughput_rows_per_s on joins"),
    ("refine.tasks", "count", "higher", "throughput_rows_per_s on joins; cql part of cycle_p50_s on indexed_lookup"),
    ("refine.python_boot_s", "s", "lower", "throughput_rows_per_s on joins; cql part of cycle_p50_s on indexed_lookup"),
    ("refine.python_init_s", "s", "lower", "throughput_rows_per_s on joins; cql part of cycle_p50_s on indexed_lookup"),
    ("refine.python_total_s", "s", "lower", "throughput_rows_per_s on joins; cql part of cycle_p50_s on indexed_lookup"),
    ("refine.bytes_sent", "bytes", "lower", "throughput_rows_per_s on joins"),
    ("exchange.shuffle_bytes", "bytes", "lower", "throughput_rows_per_s on joins (shuffle part)"),
    ("exchange.broadcast_bytes", "bytes", "lower", "throughput_rows_per_s on joins"),
    ("exchange.skewed_partitions", "count", "lower", "throughput_rows_per_s on joins (shuffle part)"),
    ("skew.plan_s", "s", "lower", "throughput_rows_per_s on joins (shuffle part)"),
    ("skew.salt", "count", "lower", "throughput_rows_per_s on joins (shuffle part)"),
    ("knn.rounds", "count", "lower", "knn part of cycle_p50_s on indexed_lookup"),
    ("knn.candidates_per_query", "ratio", "lower", "knn part of cycle_p50_s on indexed_lookup"),
    ("tiling.s", "s", "lower", "throughput_rows_per_s on joins (broadcast part)"),
]

WORKLOADS = {
    "joins": (
        "both spatial join paths: cell keying, broadcast join, Arrow refine "
        "and tiling; then a polygon side above the broadcast limit with a hot "
        "cell: shuffle, AQE skew, salting"
    ),
    "indexed_lookup": (
        "indexed writes, then short range, CQL, kNN and tile queries on them: "
        "write throughput, planning, pruning and job scheduling"
    ),
}
