"""Per-layer metrics of a traced run, reduced from the tracer's per-op
records and spans. Times and counts are means per timed op unless the
name says otherwise; a layer a workload never calls reads 0.

README.md lists the end-to-end metric and workload each one should move.
"""

from __future__ import annotations

import statistics

OPERATOR_FNS = (
    "merge_into",
    "delete_where",
    "append_version",
    "materialize_deletes",
    "read_version_mor",
    "table_changes_typed",
)

# (name, unit, tracer field averaged per op)
PER_OP = [
    ("spark.jobs", "count", "jobs"),
    ("spark.stages", "count", "stages"),
    ("spark.tasks", "count", "tasks"),
    ("spark.job_ms", "ms", "job_ms"),
    ("spark.task_run_ms", "ms", "task_run_ms"),
    ("spark.task_cpu_ms", "ms", "task_cpu_ms"),
    ("spark.gc_ms", "ms", "gc_ms"),
    ("spark.shuffle_read_bytes", "B", "shuffle_read_bytes"),
    ("spark.shuffle_write_bytes", "B", "shuffle_write_bytes"),
    ("spark.spill_bytes", "B", "spill_bytes"),
    ("spark.fetch_wait_ms", "ms", "fetch_wait_ms"),
    ("spark.broadcast_ms", "ms", "broadcast_ms"),
    ("catalyst.analysis_ms", "ms", "analysis_ms"),
    ("catalyst.optimization_ms", "ms", "optimization_ms"),
    ("catalyst.planning_ms", "ms", "planning_ms"),
    ("io.input_bytes", "B", "input_bytes"),
    ("io.files_read", "count", "files_read"),
    ("io.scan_ms", "ms", "scan_ms"),
    ("python.boot_ms", "ms", "python_boot_ms"),
    ("python.init_ms", "ms", "python_init_ms"),
    ("python.run_ms", "ms", "python_run_ms"),
    ("python.bytes_sent", "B", "python_bytes_sent"),
    ("python.bytes_received", "B", "python_bytes_received"),
    ("driver.other_ms", "ms", "driver_other_ms"),
    ("trace.readout_ms", "ms", "readout_ms"),
]
# averaged per commit or maintenance op
TABLE_COUNTS = [
    ("operators.bytes_added", "B", "bytes_added"),
    ("operators.files_added", "count", "files_added"),
    ("operators.live_files", "count", "live_files"),
    ("operators.chain_length", "count", "chain_length"),
]


TAIL_BEYOND = 10  # samples the tail percentile must leave above it


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that still leaves
    TAIL_BEYOND samples above it; the maximum when there are too few."""
    s = sorted(samples)
    n = len(s)
    if n <= TAIL_BEYOND:
        return s[-1], 100.0
    return s[n - 1 - TAIL_BEYOND], 100.0 * (n - TAIL_BEYOND) / n


def kind_latencies(records) -> dict:
    """commit_* and read_* latencies of a workload that commits."""
    out = {}
    for kind in ("commit", "read"):
        lat = [r.latency_ms for r in records if r.step.kind == kind]
        if lat and any(r.step.kind == "commit" for r in records):
            out[f"{kind}_p50_ms"] = statistics.median(lat)
            out[f"{kind}_tail_ms"] = tail(lat)[0]
    return out


def per_layer(records, builds, warm_s, persisted, tracer, extra, attempted, failed):
    """(metrics, problems): every per-layer metric as (value, unit), and
    the self-check failures of the traced run."""
    layer = [r.layer for r in records]
    n = len(layer)
    metrics = {
        "session.launch_ms": (builds[0] * 1e3, "ms"),
        "session.build_ms": (statistics.median(builds[1:] or builds) * 1e3, "ms"),
        "session.warm_ms": (warm_s * 1e3, "ms"),
    }
    for name, unit, field in PER_OP:
        metrics[name] = (sum(op.get(field, 0.0) for op in layer) / n, unit)
    launched = sum(op["tasks_launched"] for op in layer)
    metrics["spark.task_success_ratio"] = (
        sum(op["tasks_ok"] for op in layer) / launched if launched else 1.0, "ratio"
    )
    metrics["spark.persisted_rdds_after_pass"] = (float(max(persisted)), "count")

    # Only the lakehouse reads know the files their snapshot offered; the
    # query workload's tables are one file each, so it reads 0.
    read = offered = 0.0
    for r in records:
        if r.layer.get("files_offered"):
            read += r.layer["files_read"]
            offered += r.layer["files_offered"]
    metrics["io.files_read_ratio"] = (read / offered if offered else 0.0, "ratio")

    spans = tracer.spans
    builds_q = [s for s in spans if s["name"] == "queries.build"]
    queries = sum(r.step.kind == "query" for r in records)
    metrics["queries.build_ms"] = (
        sum(s["end"] - s["start"] for s in builds_q) * 1e3 / queries if queries else 0.0, "ms"
    )
    metrics["queries.build_jobs"] = (sum(s["jobs"] for s in builds_q) / queries if queries else 0.0, "count")
    for fn in OPERATOR_FNS:
        calls = [s for s in spans if s["name"] == f"operators.{fn}"]
        k = len(calls)
        metrics[f"operators.{fn}_ms"] = (sum(s["end"] - s["start"] for s in calls) * 1e3 / k if k else 0.0, "ms")
        metrics[f"operators.{fn}_jobs"] = (sum(s["jobs"] for s in calls) / k if k else 0.0, "count")
    writes = [r.layer for r in records if r.step.kind in ("commit", "maintenance")]
    for name, unit, field in TABLE_COUNTS:
        vals = [w.get(field, 0.0) for w in writes]
        metrics[name] = (sum(vals) / len(vals) if vals else 0.0, unit)

    kinds = kind_latencies(records)
    for name in ("commit_p50_ms", "commit_tail_ms", "read_p50_ms", "read_tail_ms"):
        metrics[name] = (kinds.get(name, 0.0), "ms")
    metrics["write_amp"] = (extra.get("write_amp", 0.0), "ratio")
    metrics["space_amp"] = (extra.get("space_amp", 0.0), "ratio")
    metrics["fail_ratio"] = (failed / attempted, "ratio")
    lat = [r.latency_ms for r in records]
    metrics["trace.ops_per_min"] = (60_000.0 * n / sum(lat), "1/min")

    problems = [
        f"self-check: traced {r.step.name} op {i} shows no Python worker run time"
        for i, r in enumerate(records)
        if r.step.name == "q4_avg_distance_pandas_udf" and not r.layer.get("python_run_ms")
    ]
    return metrics, problems
