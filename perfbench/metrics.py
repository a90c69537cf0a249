"""Every metric the benchmark prints, with its unit.

``END_TO_END`` and ``PER_LAYER`` are measured on every workload and make
up the last output line (``--trace 0`` and ``--trace 1`` respectively);
BENCHMARK.json lists the same names. The ``WORKLOAD_*`` tables hold the
metrics that exist only where their layer does work; they are printed
as report lines above the last line. ``QUERY_METRICS`` are printed once
per headline query, as ``<metric>.<query>``.
"""

from __future__ import annotations

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
    "cpu_s_per_op": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "py4j.calls": "count",
    "spark.exec_s": "s",
    "spark.driver_gap_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.run_ms": "ms",
    "spark.cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "proc.driver_cpu_s": "s",
    "proc.jvm_cpu_s": "s",
    "proc.python_cpu_s": "s",
    "trace.overhead_pct": "%",
}

# printed for every workload but kept out of the last line: error_rate is
# 0 when all is well, a tail needs more samples than a run collects, and
# JVM heap growth makes peak RSS vary by 10-40% between seeds
COMMON_REPORT = {"error_rate": "ratio", "op_tail_s": "s", "peak_rss_mb": "MB"}

WORKLOAD_END_TO_END = {
    "mr_streaming_wc": {
        "job_p50_s": "s",
        "job_tail_s": "s",
        "input_mb_per_s": "MB/s",
    },
    "query_headline": {
        "query_p50_s": "s",
        "query_tail_s": "s",
        "queries_per_s": "1/s",
    },
    "store_refresh": {
        "commit_p50_s": "s",
        "commit_tail_s": "s",
        "snapshot_read_p50_s": "s",
        "cdf_read_p50_s": "s",
        "bytes_stored_per_user_byte": "ratio",
    },
}

WORKLOAD_PER_LAYER = {
    "mr_streaming_wc": {
        "proc.child_cpu_s": "s",
        "mapreduce.map_stage_s": "s",
        "mapreduce.reduce_stage_s": "s",
        "mapreduce.publish_s": "s",
        "mapreduce.shuffle_bytes_per_input_byte": "ratio",
    },
    "query_headline": {
        "registry.build_s": "s",
        "registry.py4j_calls": "count",
        "registry.eager_jobs": "count",
        "plan.plan_s": "s",
        "plan.exchanges": "count",
        "plan.broadcasts": "count",
    },
    "store_refresh": {
        "vstore.commit_jobs": "count",
        "vstore.commit_files_added": "count",
        "vstore.commit_bytes_written": "bytes",
        "vstore.checkpoints_written": "count",
        "vstore.head_resolve_s": "s",
        "vstore.read_jobs": "count",
        "vstore.cdf_jobs": "count",
    },
}

QUERY_METRICS = {
    "build_s": "s",
    "plan_s": "s",
    "exec_s": "s",
    "py4j_calls": "count",
    "jobs": "count",
}

WORKLOADS = tuple(WORKLOAD_END_TO_END)


def expected(workload: str, trace: bool, queries: list[str] = ()) -> dict[str, str]:
    """Name -> unit of every metric a run of ``workload`` must print."""
    out = dict(END_TO_END)
    out.update(COMMON_REPORT)
    out.update(WORKLOAD_END_TO_END[workload])
    if trace:
        out.update(PER_LAYER)
        out.update(WORKLOAD_PER_LAYER[workload])
        for q in queries:
            for m, unit in QUERY_METRICS.items():
                out[f"{m}.{q}"] = unit
    return out


def report_lines(values: dict[str, float], units: dict[str, str], notes: dict[str, str]) -> list[str]:
    """One ``metric <name> <value> <unit>`` line per expected metric, in
    catalog order; raises if a value is missing."""
    missing = [n for n in units if n not in values]
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    lines = []
    for name, unit in units.items():
        note = f"  ({notes[name]})" if name in notes else ""
        lines.append(f"metric {name} {values[name]!r} {unit}{note}")
    return lines
