"""Every metric the benchmark emits, and which end-to-end metric each
per-layer metric should move, on which workload, and where it should stay
flat. Later changes name a metric, a workload and a predicted no-change
workload from this table. ``BENCHMARK.json`` lists the same names and units.

Workloads: ``global_kernel`` (GK), ``grouped_highcard`` (GH),
``sketch_family`` (SF).
"""

from __future__ import annotations

# name: (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "rows_per_s": ("1/s", "higher"),
    "python_rss_mb": ("MB", "lower"),
}

# name: (unit, better, moves, on, flat on)
PER_LAYER = {
    "plans.session_s": ("s", "lower", "setup_s", "all", "none"),
    "sources.generate_s": ("s", "lower", "setup_s", "all", "none"),
    "core.build_ns_per_pt": ("ns", "lower", "rows_per_s", "GK", "GH (mostly)"),
    "core.centroids_per_digest": ("count", "lower", "rows_per_s", "GK", "GH (mostly)"),
    "core.merge_ns_per_centroid": ("ns", "lower", "rows_per_s", "GH", "GK"),
    "core.quantile_us": ("us", "lower", "rows_per_s", "GH", "GK"),
    "aggregation.partial_s": ("s", "lower", "rows_per_s", "GH", "GK"),
    "aggregation.partial_rows": ("count", "lower", "rows_per_s", "GH", "GK"),
    "aggregation.partials_per_group_max": ("count", "lower", "rows_per_s", "GH", "GK"),
    "aggregation.partial_mb": ("MB", "lower", "rows_per_s", "GH", "GK"),
    "aggregation.merge_s": ("s", "lower", "rows_per_s", "GH", "GK"),
    "aggregation.merge_calls": ("count", "lower", "rows_per_s", "GH", "GK"),
    "serde.to_bytes_us": ("us", "lower", "none (GH traced state round trip)", "GH", "GK, SF"),
    "serde.from_cells_us": ("us", "lower", "none (GH traced state round trip)", "GH", "GK, SF"),
    "serde.bytes_per_digest": ("B", "lower", "none (GH traced state round trip)", "GH", "GK, SF"),
    "checkpoint.write_s": ("s", "lower", "none (GH traced state round trip)", "GH", "GK, SF"),
    "checkpoint.read_s": ("s", "lower", "none (GH traced state round trip)", "GH", "GK, SF"),
    "checkpoint.resume_s": ("s", "lower", "none (GH traced state round trip)", "GH", "GK, SF"),
    "checkpoint.bytes_written_mb": ("MB", "lower", "none (GH traced state round trip)", "GH", "GK, SF"),
    "functions.query_s": ("s", "lower", "none (GH traced state round trip)", "GH", "GK, SF"),
    "functions.digests_per_s": ("1/s", "higher", "none (GH traced state round trip)", "GH", "GK, SF"),
    "sketches.kll_s": ("s", "lower", "rows_per_s", "SF", "GK, GH"),
    "sketches.countmin_s": ("s", "lower", "rows_per_s", "SF", "GK, GH"),
    "sketches.theta_s": ("s", "lower", "rows_per_s", "SF", "GK, GH"),
    "sketches.frequent_s": ("s", "lower", "rows_per_s", "SF", "GK, GH"),
    "sketches.partial_rows": ("count", "lower", "rows_per_s", "SF", "GK, GH"),
    "spark.scan_s": ("s", "lower", "rows_per_s", "GK", "none"),
    "spark.to_python_mb": ("MB", "lower", "rows_per_s", "GK", "none"),
    "spark.from_python_mb": ("MB", "lower", "rows_per_s", "GK", "none"),
    "spark.python_boot_s": ("s", "lower", "rows_per_s, setup_s", "all", "none"),
    "spark.python_init_s": ("s", "lower", "rows_per_s, setup_s", "all", "none"),
    "spark.python_total_s": ("s", "lower", "rows_per_s", "all", "none"),
    "spark.tasks": ("count", "lower", "rows_per_s", "all", "none"),
    "spark.shuffle_write_mb": ("MB", "lower", "rows_per_s", "GH", "GK"),
    "spark.shuffle_write_s": ("s", "lower", "rows_per_s", "GH", "GK"),
    "spark.jvm_rss_mb": ("MB", "lower", "none (heap sizing is GC-driven, too noisy to gate)", "all", "none"),
    "spark.percentile_approx_s": ("s", "lower", "none (reference, not gated)", "GH", "all"),
    "accuracy.rank_err_mean": ("rank", "lower", "none (seed-driven; every operation is checked against the bound)", "all", "none"),
    "accuracy.rank_err_max": ("rank", "lower", "none (seed-driven; every operation is checked against the bound)", "all", "none"),
    "trace.overhead_s": ("s", "lower", "none (tracing cost)", "all", "all"),
    "trace.unattributed_s": ("s", "lower", "none (span coverage)", "all", "all"),
}
