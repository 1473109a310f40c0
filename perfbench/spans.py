"""Tracing from outside the program: spans around the benchmark's calls
into each layer, plus the counts Spark already keeps about them.

Per op the tracer reads:

- Spark jobs carrying the op's job tags (``SparkContext.addJobTag``), and
  their stages, from the core status store;
- SQL plan metrics (Python workers, broadcasts, file scans) from the SQL
  status store, for the executions the op started;
- Catalyst phase times (``QueryExecution.tracker().phases()``) of every
  action, delivered by a ``QueryExecutionListener`` registered over py4j.

Spans and per-op records stay in memory; ``dump`` writes them out once at
the end of the run. ``NullTracer`` is the untraced stand-in: its spans are
empty context managers and it reads nothing.
"""

from __future__ import annotations

import contextlib
import json
import re
import time

SEP = "\u0001"
_PHASE = re.compile(r"(\w+) -> PhaseSummary\((\d+), (\d+)\)")
_METRIC = re.compile(r"SQLPlanMetric\((.*),(\d+),(\w+)\)$")
_UNITS = {
    "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6, "ns": 1e-6,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
# SQL plan metric name -> per-op field it is summed into
SQL_FIELDS = {
    "time to start Python workers": "python_boot_ms",
    "time to initialize Python workers": "python_init_ms",
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
    "time to collect": "broadcast_ms",
    "time to build": "broadcast_ms",
    "time to broadcast": "broadcast_ms",
    "number of files read": "files_read",
    "scan time": "scan_ms",
}


def parse_metric(text: str) -> float:
    """Value of one SQL metric as the status store renders it: ``1,500``,
    ``68 ms``, ``2.5 s``, ``33.0 KiB``, or a ``total (min, med, max ...)``
    block whose second line starts with the total."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    head = text.split(" (", 1)[0].strip().replace(",", "")
    parts = head.split()
    if not parts:
        return 0.0
    try:
        value = float(parts[0])
    except ValueError:
        return 0.0
    return value * _UNITS.get(parts[1], 1.0) if len(parts) > 1 else value


class NullTracer:
    enabled = False

    def span(self, name: str, op_id: int):
        return contextlib.nullcontext()

    def begin_op(self, op_id: int) -> None:
        pass

    def end_op(self, op_id: int, wall_ms: float) -> dict:
        return {}


class _CatalystListener:
    """py4j implementation of ``QueryExecutionListener``: keeps the phase
    durations of every finished action."""

    def __init__(self) -> None:
        self.phases: list[dict[str, float]] = []

    def _record(self, qe) -> None:
        text = qe.tracker().phases().mkString(SEP)
        self.phases.append({m[0]: float(m[2]) - float(m[1]) for m in _PHASE.findall(text)})

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        self._record(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self._record(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    enabled = True

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._op_spans: list[int] = []
        self._sql_seen = int(self.sql.executionsCount())
        self._phases_seen = 0
        ensure_callback_server_started(self.sc._gateway)
        self.listener = _CatalystListener()
        spark._jsparkSession.listenerManager().register(self.listener)

    @contextlib.contextmanager
    def span(self, name: str, op_id: int):
        idx = len(self.spans)
        rec = {
            "name": name, "op": op_id, "start": time.time(), "end": None,
            "parent": self._stack[-1] if self._stack else None, "jobs": 0,
        }
        self.spans.append(rec)
        self._op_spans.append(idx)
        self._stack.append(idx)
        tag = f"pbspan-{idx}"
        self.sc.addJobTag(tag)
        try:
            yield rec
        finally:
            self.sc.removeJobTag(tag)
            self._stack.pop()
            rec["end"] = time.time()

    def begin_op(self, op_id: int) -> None:
        """Start attributing to ``op_id``: anything the benchmark itself ran
        since the last op (input preparation) is skipped."""
        self.jsc.listenerBus().waitUntilEmpty()
        self._sql_seen = int(self.sql.executionsCount())
        self._phases_seen = len(self.listener.phases)
        self.sc.addJobTag(f"pbop-{op_id}")

    def _job_ids(self, tag: str) -> list[int]:
        return [int(j) for j in self.jsc.statusTracker().getJobIdsForTag(tag)]

    def end_op(self, op_id: int, wall_ms: float) -> dict:
        """Everything the status stores and the listener hold about the op
        that just ended, flattened into one record."""
        self.sc.removeJobTag(f"pbop-{op_id}")
        t0 = time.perf_counter()
        self.jsc.listenerBus().waitUntilEmpty()
        rec = dict.fromkeys(
            ["jobs", "stages", "tasks", "tasks_launched", "tasks_ok", "task_run_ms",
             "task_cpu_ms", "gc_ms", "input_bytes", "shuffle_read_bytes",
             "shuffle_write_bytes", "spill_bytes", "fetch_wait_ms", "analysis_ms",
             "optimization_ms", "planning_ms", *set(SQL_FIELDS.values())],
            0.0,
        )
        for idx in self._op_spans:
            self.spans[idx]["jobs"] = len(self._job_ids(f"pbspan-{idx}"))
        self._op_spans = []
        intervals, stage_ids = [], set()
        for job_id in self._job_ids(f"pbop-{op_id}"):
            job = self.store.job(job_id)
            rec["jobs"] += 1
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                intervals.append(
                    (job.submissionTime().get().getTime(), job.completionTime().get().getTime())
                )
            stage_ids.update(int(s) for s in job.stageIds().mkString(",").split(",") if s)
        for sid in sorted(stage_ids):
            st = self.store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            rec["stages"] += 1
            rec["tasks"] += st.numTasks()
            rec["tasks_ok"] += st.numCompleteTasks()
            rec["tasks_launched"] += (
                st.numCompleteTasks() + st.numFailedTasks() + st.numKilledTasks()
            )
            rec["task_run_ms"] += st.executorRunTime()
            rec["task_cpu_ms"] += st.executorCpuTime() / 1e6
            rec["gc_ms"] += st.jvmGcTime()
            rec["input_bytes"] += st.inputBytes()
            rec["shuffle_read_bytes"] += st.shuffleReadBytes()
            rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
            rec["spill_bytes"] += st.diskBytesSpilled()
            rec["fetch_wait_ms"] += st.shuffleFetchWaitTime()
        rec["job_ms"] = _union_ms(intervals)
        self._read_sql(rec)
        for phases in self.listener.phases[self._phases_seen:]:
            for phase in ("analysis", "optimization", "planning"):
                rec[f"{phase}_ms"] += phases.get(phase, 0.0)
        self._phases_seen = len(self.listener.phases)
        catalyst = rec["analysis_ms"] + rec["optimization_ms"] + rec["planning_ms"]
        rec["driver_other_ms"] = wall_ms - rec["job_ms"] - catalyst
        rec["readout_ms"] = (time.perf_counter() - t0) * 1e3
        rec["op"] = op_id
        self.ops.append(rec)
        return rec

    def _read_sql(self, rec: dict) -> None:
        """Sum the SQL metrics of every execution started since the last
        readout (one client: they all belong to the op that just ended)."""
        count = int(self.sql.executionsCount())
        if count > self._sql_seen:
            execs = self.sql.executionsList(self._sql_seen, count - self._sql_seen)
            for i in range(execs.size()):
                ex = execs.apply(i)
                names = {}
                for item in ex.metrics().mkString(SEP).split(SEP):
                    m = _METRIC.match(item)
                    if m and m.group(1) in SQL_FIELDS:
                        names[m.group(2)] = m.group(1)
                if not names:
                    continue
                values = self.sql.executionMetrics(ex.executionId()).mkString(SEP)
                for item in values.split(SEP):
                    acc, _, text = item.partition(" -> ")
                    name = names.get(acc.strip())
                    if name is None:
                        continue
                    rec[SQL_FIELDS[name]] += parse_metric(text)
        self._sql_seen = count

    def persisted_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": self.ops, **extra}, f)

    def close(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self.listener)


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    """Length of the union of [start, end] millisecond intervals (jobs of
    one op can overlap, e.g. a broadcast beside the main job)."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return float(total)
