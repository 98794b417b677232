"""Names, units and directions of every metric the benchmark reports.

``BENCHMARK.json`` at the repository root lists the same metrics; a test
keeps the two in step.
"""

from __future__ import annotations

#: (name, unit, better, bound) — reported with ``--trace 0``.
END_TO_END = (
    ("events_per_s", "1/s", "higher", 0.25),
    ("batch_p50_ms", "ms", "lower", 0.25),
    ("table_read_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.25),
    ("setup_s", "s", "lower", 0.25),
)

#: Declared queries the ``catalog`` workload runs: the reference's
#: windowed aggregate, a TPC-H join, a rank query and the dedup report.
#: ``market_share``, ``user_value_deciles`` and ``dedup_report`` fire the
#: most Spark jobs while being built.
CATALOG_QUERIES = (
    "flagship",
    "market_share",
    "user_value_deciles",
    "dedup_report",
)

#: Micro-batch phases of ``StreamingQueryProgress.durationMs`` in the
#: order a micro-batch runs them, with the metric suffix of each.
BATCH_PHASES = (
    ("latestOffset", "latest_offset"),
    ("walCommit", "wal_commit"),
    ("getBatch", "get_batch"),
    ("queryPlanning", "query_planning"),
    ("addBatch", "add_batch"),
    ("commitOffsets", "commit_offsets"),
)

#: Span kinds of the traced run; each reports its summed self time.
SPAN_KINDS = (
    "run",
    "query_start",
    "batch",
    *(suffix for _, suffix in BATCH_PHASES),
    "query_stop",
    "query",
    "build",
    "plan",
    "execute",
    "job",
)

#: (name, unit, better) — reported with ``--trace 1``; a metric a
#: workload does not exercise reads 0.
PER_LAYER = (
    *((f"streaming.{s}_ms", "ms", "lower") for _, s in BATCH_PHASES if s != "add_batch"),
    ("streaming.batches", "count", "lower"),
    ("sinks.add_batch_ms", "ms", "lower"),
    ("sinks.jobs", "count", "lower"),
    ("sinks.output_files", "count", "lower"),
    ("sinks.output_bytes", "bytes", "lower"),
    ("sinks.upsert_log_rows", "count", "lower"),
    ("state.rows_total", "count", "lower"),
    ("state.rows_updated", "count", "lower"),
    ("state.rows_removed", "count", "lower"),
    ("state.commit_ms", "ms", "lower"),
    ("state.update_ms", "ms", "lower"),
    ("state.removal_ms", "ms", "lower"),
    ("state.memory_bytes", "bytes", "lower"),
    ("state.rows_dropped_by_watermark", "count", "lower"),
    ("build.s", "s", "lower"),
    ("build.jobs", "count", "lower"),
    ("catalyst.analysis_ms", "ms", "lower"),
    ("catalyst.optimization_ms", "ms", "lower"),
    ("catalyst.planning_ms", "ms", "lower"),
    ("exec.s", "s", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.task_cpu_ms", "ms", "lower"),
    ("exec.gc_ms", "ms", "lower"),
    ("exec.scan_bytes", "bytes", "lower"),
    ("exec.shuffle_write_bytes", "bytes", "lower"),
    ("exec.cpu_us_per_event", "us", "lower"),
    *((f"query.{q}_s", "s", "lower") for q in CATALOG_QUERIES),
    *((f"self.{k}_s", "s", "lower") for k in SPAN_KINDS),
    ("host.steal_ratio", "ratio", "lower"),
    ("host.load1_start", "load", "lower"),
    ("host.session_start_s", "s", "lower"),
    ("trace.coverage_ratio", "ratio", "higher"),
    ("trace.overhead_ratio", "ratio", "lower"),
)

UNITS = {n: u for n, u, *_ in (*END_TO_END, *PER_LAYER)}
