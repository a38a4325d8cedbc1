"""The traced run: timing wrappers around the engine's public entry points,
job-group tagging, and the parsers that turn Spark's event log and a
streaming query's progress reports into per-layer metrics.

Every measurement is taken from outside the engine: wrappers time calls
into ``sources.tables.load_table``, the registry function and
``queryExecution().executedPlan()``; Spark's own listener events and
progress reports supply the rest.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import sys
import time
from collections import defaultdict

SEP = "|"

# Python-worker SQL metrics (PythonSQLMetrics): timings in ms, sizes in bytes.
PY_METRICS = {
    "time to start Python workers": "functions.py_worker_start_ms",
    "time to initialize Python workers": "functions.py_worker_init_ms",
    "time to run Python workers": "functions.py_worker_run_ms",
    "data sent to Python workers": "functions.py_bytes_sent",
    "data returned from Python workers": "functions.py_bytes_received",
}

# Summed over the jobs of one op execution.
JOB_SUMS = [
    "operators.jobs",
    "operators.stages",
    "operators.tasks",
    "operators.task_failures",
    "operators.empty_tasks",
    "operators.scheduler_delay_ms",
    "operators.executor_run_ms",
    "operators.executor_cpu_ms",
    "operators.gc_ms",
    "operators.scan_bytes",
    "operators.scan_records",
    "operators.shuffle_write_bytes",
    "operators.shuffle_read_bytes",
    "operators.shuffle_fetch_wait_ms",
    "operators.spill_bytes",
] + list(PY_METRICS.values())


def group_id(pass_no: int, op: str, phase: str) -> str:
    return SEP.join(("pb", str(pass_no), op, phase))


class JobGroups:
    """Tags the jobs of each op and phase, so the event log can attribute
    them and an overrunning op's jobs can be cancelled."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext

    def set(self, group: str) -> None:
        self.sc.setJobGroup(group, group, interruptOnCancel=True)

    def current(self) -> str | None:
        return self.sc.getLocalProperty("spark.jobGroup.id")

    def clear(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)


class LayerTimer:
    """Wraps ``sources.tables.load_table`` wherever the engine bound it, so
    its calls, wall time and the jobs it starts are attributed to the op
    that is being built."""

    def __init__(self, groups: JobGroups) -> None:
        self.groups = groups
        self.calls = 0
        self.seconds = 0.0
        self._patched: list[tuple[object, object]] = []

    @contextlib.contextmanager
    def installed(self):
        from mapreduce_hadoop_spark.sources import tables

        original = tables.load_table

        def load_table(spark, sf_dir, name):
            outer = self.groups.current()
            if outer and outer.endswith(SEP + "build"):
                inner = outer[: -len("build")] + "load"
                self.groups.set(inner)
            t0 = time.perf_counter()
            try:
                return original(spark, sf_dir, name)
            finally:
                self.seconds += time.perf_counter() - t0
                self.calls += 1
                if outer:
                    self.groups.set(outer)

        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "") or "").startswith("mapreduce_hadoop_spark") and (
                getattr(mod, "load_table", None) is original
            ):
                self._patched.append((mod, original))
                mod.load_table = load_table
        try:
            yield self
        finally:
            for mod, fn in self._patched:
                mod.load_table = fn
            self._patched.clear()

    def take(self) -> tuple[int, float]:
        calls, seconds = self.calls, self.seconds
        self.calls, self.seconds = 0, 0.0
        return calls, seconds


def cached_bytes(spark) -> int:
    """Storage (memory + disk) held by persisted RDDs and tables right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


def executed_plan_seconds(df) -> float:
    t0 = time.perf_counter()
    df._jdf.queryExecution().executedPlan()
    return time.perf_counter() - t0


def event_log_file(log_dir: str) -> str:
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return files[0]


def parse_event_log(path: str) -> dict[str, dict[str, float]]:
    """Job group -> summed task-level counters of the jobs in that group."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stages_seen: dict[str, set] = defaultdict(set)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                out[group]["operators.jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                if group is None:
                    continue
                _add_task(out[group], ev)
                stages_seen[group].add((ev["Stage ID"], ev.get("Stage Attempt ID", 0)))
    for group, stages in stages_seen.items():
        out[group]["operators.stages"] = len(stages)
    return {g: dict(v) for g, v in out.items()}


def _add_task(acc: dict[str, float], ev: dict) -> None:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    acc["operators.tasks"] += 1
    if (ev.get("Task End Reason") or {}).get("Reason") != "Success" or info.get("Failed"):
        acc["operators.task_failures"] += 1
    run_ms = m.get("Executor Run Time", 0)
    duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    overhead = m.get("Executor Deserialize Time", 0) + m.get("Result Serialization Time", 0)
    # "Getting Result Time" is when the driver began fetching the result.
    fetch_start = info.get("Getting Result Time", 0)
    getting = info.get("Finish Time", 0) - fetch_start if fetch_start else 0
    acc["operators.scheduler_delay_ms"] += max(0, duration - run_ms - overhead - getting)
    acc["operators.executor_run_ms"] += run_ms
    acc["operators.executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
    acc["operators.gc_ms"] += m.get("JVM GC Time", 0)
    inp = m.get("Input Metrics") or {}
    shr = m.get("Shuffle Read Metrics") or {}
    shw = m.get("Shuffle Write Metrics") or {}
    acc["operators.scan_bytes"] += inp.get("Bytes Read", 0)
    acc["operators.scan_records"] += inp.get("Records Read", 0)
    acc["operators.shuffle_write_bytes"] += shw.get("Shuffle Bytes Written", 0)
    acc["operators.shuffle_read_bytes"] += shr.get("Remote Bytes Read", 0) + shr.get(
        "Local Bytes Read", 0
    )
    acc["operators.shuffle_fetch_wait_ms"] += shr.get("Fetch Wait Time", 0)
    acc["operators.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
        "Disk Bytes Spilled", 0
    )
    if inp.get("Records Read", 0) == 0 and shr.get("Total Records Read", 0) == 0:
        acc["operators.empty_tasks"] += 1
    for a in info.get("Accumulables", []):
        name = PY_METRICS.get(a.get("Name"))
        if name:
            acc[name] += float(a.get("Update") or 0)


def progress_metrics(progress: list[dict]) -> dict[str, float]:
    """Streaming-layer metrics from one query's ``recentProgress``."""
    dur = [p.get("durationMs", {}) for p in progress]
    ops = [so for p in progress for so in p.get("stateOperators", [])]
    return {
        "streaming.batches": len(progress),
        "streaming.add_batch_ms": sum(d.get("addBatch", 0) for d in dur),
        "streaming.query_planning_ms": sum(d.get("queryPlanning", 0) for d in dur),
        "streaming.wal_commit_ms": sum(
            d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur
        ),
        "streaming.state_commit_ms": sum(so.get("commitTimeMs", 0) for so in ops),
        "streaming.state_rows_peak": max((so.get("numRowsTotal", 0) for so in ops), default=0),
        "streaming.state_rows_removed": sum(so.get("numRowsRemoved", 0) for so in ops),
        "streaming.state_memory_bytes_peak": max(
            (so.get("memoryUsedBytes", 0) for so in ops), default=0
        ),
    }


MEASURED = (
    "operators.build_s",
    "operators.plan_s",
    "operators.exec_s",
    "operators.cached_bytes",
    "sources.load_table_calls",
    "sources.load_table_s",
    "rows_out",
)


def op_layers(layers: dict, events: dict) -> dict[str, float]:
    """Per-layer readings of one op execution: the wrappers' timings in
    ``layers`` plus the event-log counters of every job group it ran under
    (its phases, and for a stream the query run)."""
    groups = layers.get("groups", {})
    row = dict.fromkeys(JOB_SUMS, 0.0)
    for g in [*groups.values(), layers.get("run_id")]:
        for k, v in events.get(g, {}).items():
            row[k] += v
    row["sources.load_table_jobs"] = events.get(groups.get("load"), {}).get("operators.jobs", 0)
    row["operators.build_jobs"] = events.get(groups.get("build"), {}).get("operators.jobs", 0)
    for k in MEASURED:
        row[k] = layers.get(k, 0)
    return row


def replay_layers(layers: dict, events: dict) -> dict[str, float]:
    """Per-layer readings of one stream replay, whose micro-batches are the
    ops: planning and execution come from the query's progress reports."""
    prog = layers.get("progress", [])
    row = op_layers(layers, events)
    row.update(progress_metrics(prog))
    row["operators.plan_s"] = row["streaming.query_planning_ms"] / 1000
    row["operators.exec_s"] = sum(q["durationMs"].get("triggerExecution", 0) for q in prog) / 1000
    row["rows_out"] = sum(q.get("sink", {}).get("numOutputRows", 0) for q in prog)
    return row
