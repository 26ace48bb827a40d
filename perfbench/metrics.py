"""Metric names and units: every workload prints all ``END_TO_END``
metrics untraced and all ``PER_LAYER`` metrics traced. BENCHMARK.json
lists the same names."""

TABLES = ("logs", "clients", "messages", "deliveries")
# query families: the name prefix, with tpch and the relational queries as "sql"
FAMILIES = ("ml", "sql", "doc", "embed", "mm", "ev", "ord", "li", "dq")

# name -> unit; every workload reports all of them (see NOTES.md for
# what each means on each workload)
END_TO_END = {
    "setup_s": "s",
    "cold_per_s": "1/s",
    "warm_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "streaming.batch_ms_p50": "ms",
    "streaming.trigger_ms_p50": "ms",
    "streaming.wal_commit_ms_p50": "ms",
    "streaming.query_planning_ms_p50": "ms",
    "streaming.jobs_per_batch": "count",
    "streaming.stages_per_batch": "count",
    "streaming.tasks_per_batch": "count",
    "streaming.executor_run_s_per_batch": "s",
    "streaming.executor_cpu_s_per_batch": "s",
    "streaming.gc_s": "s",
    "streaming.shuffle_bytes_per_line": "B/line",
    "streaming.lines_per_busy_s": "lines/s",
    **{f"streaming.merge_{t}_s": "s" for t in TABLES},
    **{f"streaming.merge_{t}_jobs": "count" for t in TABLES},
    **{f"streaming.state_bytes_{t}": "B" for t in TABLES},
    "streaming.state_rewrite_ratio": "ratio",
    "sources.latest_offset_ms_p50": "ms",
    "sources.get_batch_ms_p50": "ms",
    "sources.lines_per_batch_p50": "count",
    "sources.backlog_bytes_max": "B",
    "bench.generator_late_ms_max": "ms",
    "parsing.lines_per_s": "lines/s",
    **{f"tables.build_{t}_s": "s" for t in TABLES},
    "backfill.lines_per_s": "lines/s",
    "backfill.local1_lines_per_s": "lines/s",
    **{f"queries.{f}.{m}": u for f in FAMILIES for m, u in (
        ("build_s", "s"), ("jobs_in_build", "count"), ("plan_s", "s"), ("exec_s", "s"),
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("shuffle_bytes", "B"), ("executor_cpu_s", "s"))},
}
