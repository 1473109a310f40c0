"""Benchmark entry point: one workload, one fresh process, one client.

    python3 perfbench/run.py --workload olap_read --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The run generates its inputs from
``--seed`` under ``.perfbench/`` in the checkout, builds the Spark session
and the workload's fixtures ``SETUP_ROUNDS`` times (``setup_s`` is the
median round plus one untimed warm-up pass), then runs whole passes of the
workload's ops in a closed loop until ``--seconds`` have gone by. Every
op's output is checked after the loop. The last line of stdout is one JSON
object: end-to-end metrics with ``--trace 0``, per-layer metrics (from a
run with spans and status-store readouts on) with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
SF = 0.1
SETUP_ROUNDS = 3


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["olap_read", "lakehouse_rw"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _configure_env(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``, and
    let Python workers import the checkout under test whatever the cwd."""
    for sub in ("tmp", "local", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=str(work / "local"),
        SPARK_WAREHOUSE_DIR=str(work / "warehouse"),
        TMPDIR=str(work / "tmp"),
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options '-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}' pyspark-shell"
        ),
    )
    tempfile.tempdir = None


def _steal_jiffies() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def _hwm_kb(pid) -> int:
    """High-water RSS of a process, in KiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _workload(name: str, trace: bool):
    from perfbench.lakehouse import LakehouseWorkload
    from perfbench.ops import QueryWorkload, olap_ops

    if name == "olap_read":
        tables = {"region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"}
        return QueryWorkload(name, olap_ops(), tables, csv=("lineitem",))
    return LakehouseWorkload(trace)


class Record:
    __slots__ = ("step", "latency_ms", "output", "expected", "error", "layer")

    def __init__(self, step, latency_ms, output, expected, error, layer) -> None:
        self.step, self.latency_ms, self.output = step, latency_ms, output
        self.expected, self.error, self.layer = expected, error, layer


def run_step(spark, workload, data_dir, step, tracer, op_id) -> Record:
    args = step.prepare()
    tracer.begin_op(op_id)
    t0 = time.perf_counter()
    try:
        out, err = step.run(spark, data_dir, tracer, op_id, args), None
    except Exception:
        out, err = None, traceback.format_exc(limit=3)
    latency_ms = (time.perf_counter() - t0) * 1e3
    layer = tracer.end_op(op_id, latency_ms)
    expected = None
    if err is None:
        try:
            expected = step.expect(args, out)
        except Exception:
            err = traceback.format_exc(limit=3)
    print(f"{step.name}: {latency_ms:.0f} ms{' FAILED' if err else ''}", file=sys.stderr)
    if tracer.enabled and hasattr(workload, "op_counts"):
        layer.update(workload.op_counts(step))
    return Record(step, latency_ms, out, expected, err, layer)


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, str(ROOT))
    import numpy as np

    import pyspark_big_data_spark  # fails fast outside a checkout

    if Path(pyspark_big_data_spark.__file__).resolve().parents[1] != ROOT:
        sys.exit(f"pyspark_big_data_spark imported from outside {ROOT}")

    from perfbench import layers
    from perfbench.spans import NullTracer, Tracer

    out_dir = ROOT / ".perfbench"
    work = out_dir / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _configure_env(work)
    info = {"nproc": len(os.sched_getaffinity(0)), "load1_start": os.getloadavg()[0]}
    spark = None
    try:
        workload = _workload(args.workload, bool(args.trace))
        data_dir = str(work / "data")
        t0 = time.perf_counter()
        # A child process, so the generator's memory stays out of peak_rss_mb.
        subprocess.run(
            [sys.executable, "-m", "perfbench.datagen", "--sf", str(SF), "--seed", str(args.seed),
             "--dst", data_dir, "--tables", *sorted(workload.tables), "--csv", *workload.csv],
            cwd=ROOT, check=True,
        )
        info["inputs_s"] = time.perf_counter() - t0

        from pyspark_big_data_spark.session import get_spark

        rounds, builds = [], []
        for r in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = get_spark(app_name=f"perfbench-{args.workload}")
            spark.sparkContext.setLogLevel("ERROR")
            builds.append(time.perf_counter() - t0)
            workload.fixtures(spark, data_dir, str(work), r)
            rounds.append(time.perf_counter() - t0)
        null = NullTracer()
        rng = np.random.default_rng([args.seed, 1])
        t0 = time.perf_counter()
        for step in workload.one_pass(rng, warmup=True):
            run_step(spark, workload, data_dir, step, null, -1)
        warm_s = time.perf_counter() - t0
        setup_s = statistics.median(rounds) + warm_s
        info.update(rounds_s=rounds, warm_s=warm_s)

        tracer = Tracer(spark) if args.trace else null
        rng = np.random.default_rng([args.seed, 2])
        records: list[Record] = []
        persisted: list[int] = []
        # Restart the Python process's high-water mark: what it held during
        # set-up is the benchmark's (fixtures' model, warm-up outputs), not
        # the program's. The JVM's mark covers its whole life.
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
        t_start = time.perf_counter()
        steal0 = _steal_jiffies()
        passes = 0
        while True:
            for step in workload.one_pass(rng):
                records.append(run_step(spark, workload, data_dir, step, tracer, len(records)))
            passes += 1
            if args.trace:
                persisted.append(tracer.persisted_rdds())
            if time.perf_counter() - t_start >= args.seconds:
                break
        info["window_s"] = time.perf_counter() - t_start
        steal1 = _steal_jiffies()
        info["steal_pct"] = 100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        info["passes"] = passes
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        info["peak_rss_mb"] = (_hwm_kb(jvm_pid) + _hwm_kb("self")) / 1024

        failures = []
        for rec in records:
            if rec.error is None:
                try:
                    workload.check(rec.step, rec.output, rec.expected)
                except Exception as e:
                    rec.error = f"{type(e).__name__}: {e}"
            if rec.error is not None:
                failures.append(f"{rec.step.name}: {rec.error}")
        extra = {}
        try:
            extra = workload.close()
        except Exception as e:
            failures.append(f"end-of-run state: {type(e).__name__}: {e}")
        info["load1_end"] = os.getloadavg()[0]

        lat = [r.latency_ms for r in records]
        tail_ms, tail_pct = layers.tail(lat)
        info["op_tail_ms"] = tail_ms
        info["tail"] = f"p{tail_pct:.1f} of n={len(lat)}"
        attempted, failed = len(records), sum(r.error is not None for r in records)
        if args.trace:
            metrics, problems = layers.per_layer(
                records, builds, warm_s, persisted, tracer, extra, attempted, failed
            )
            failures += problems
            metrics["driver.peak_rss_mb"] = (info["peak_rss_mb"], "MB")
            tracer.dump(
                str(out_dir / f"trace-{args.workload}-seed{args.seed}.json"),
                {"info": info, "records": [
                    {"op": i, "name": r.step.name, "kind": r.step.kind,
                     "latency_ms": r.latency_ms, "error": r.error}
                    for i, r in enumerate(records)
                ]},
            )
            tracer.close()
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "ops_per_min": (60_000.0 * len(lat) / sum(lat), "1/min"),
                "op_p50_ms": (statistics.median(lat), "ms"),
            }
        info.update(layers.kind_latencies(records), **extra)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    for f in failures:
        print(f"check failed: {f}", file=sys.stderr)
    print("# " + json.dumps(info, default=str))
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
