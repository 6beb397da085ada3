"""Spark event-log parser for the traced run.

Reads the JSON-lines event log of one application (a file, or a
directory of rolling ``events_*`` files) and sums engine counters per
layer. A job's layer is read from its job group when a span of the
benchmark set it (``perfbench|<layer>.<what>|<item>``); jobs launched
on threads the group does not reach (streaming micro-batches) are
given the layer of the innermost span open at their submission time.
Tasks, SQL executions and their metrics inherit the layer of their job.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict
from collections.abc import Callable
from dataclasses import dataclass, field

from spans import GROUP_PREFIX, covered

#: SQL plan nodes whose rows cross the JVM/Python boundary
PYTHON_NODES = {
    "ArrowEvalPython", "ArrowEvalPythonUDTF", "BatchEvalPython", "MapInPandas",
    "MapInArrow", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
    "AggregateInPandas", "WindowInPandas", "PythonMapInArrow",
}

COUNTERS = (
    "jobs", "tasks", "executor_cpu_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
    "fetch_wait_s", "spill_bytes", "input_records", "output_bytes",
    "output_records", "python_rows", "files_read", "files_read_bytes", "files_written",
)


@dataclass
class Job:
    id: int
    layer: str | None
    item: str | None
    start: float
    end: float | None = None
    stages: list[int] = field(default_factory=list)
    execution: int | None = None


def _files(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(glob.glob(os.path.join(path, "**", "events_*"), recursive=True))
    return [path]


def _plan_metrics(node: dict, out: dict[int, tuple[str, str, str]]) -> None:
    """accumulator id -> (node name, node description, metric name)."""
    desc = node.get("simpleString", "") + " " + json.dumps(node.get("metadata", {}))
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node["nodeName"].strip(), desc, m["name"])
    for child in node.get("children", []):
        _plan_metrics(child, out)


def parse(path: str, locate: Callable[[float], tuple[str, str | None] | None]) -> "EventLog":
    """``locate(t)`` maps a wall time to (layer, item) of the span open
    then, for jobs that carry no benchmark job group."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    metric_info: dict[int, tuple[str, str, str]] = {}
    accum: dict[int, float] = defaultdict(float)  # id -> summed updates
    accum_exec: dict[int, int] = {}  # id -> execution id (driver-side updates)
    task_rows: list[tuple[int, dict, list]] = []
    for fname in _files(path):
        with open(fname) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"].rsplit(".", 1)[-1]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or ""
                    t = e["Submission Time"] / 1000
                    if group.startswith(GROUP_PREFIX):
                        _, span_name, item = group.split("|", 2)
                        where = (span_name.split(".", 1)[0], item or None)
                    else:
                        where = locate(t) or (None, None)
                    exec_id = props.get("spark.sql.execution.id")
                    job = Job(e["Job ID"], where[0], where[1], t, stages=e["Stage IDs"],
                              execution=int(exec_id) if exec_id else None)
                    jobs[job.id] = job
                    for s in job.stages:
                        stage_job[s] = job.id
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]].end = e["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd":
                    task_rows.append((e["Stage ID"], e.get("Task Metrics") or {},
                                      (e.get("Task Info") or {}).get("Accumulables", [])))
                elif kind in ("SparkListenerSQLExecutionStart",
                              "SparkListenerSQLAdaptiveExecutionUpdate"):
                    _plan_metrics(e["sparkPlanInfo"], metric_info)
                elif kind == "SparkListenerDriverAccumUpdates":
                    for acc_id, value in e["accumUpdates"]:
                        accum[acc_id] += value
                        accum_exec[acc_id] = e["executionId"]
    return EventLog(jobs, stage_job, metric_info, accum, accum_exec, task_rows)


class EventLog:
    """Counters keyed by (layer, item); ``total`` sums a selection."""

    def __init__(self, jobs, stage_job, metric_info, accum, accum_exec, task_rows):
        self.jobs: dict[int, Job] = jobs
        self.counters: dict[tuple[str, str], dict[str, float]] = defaultdict(
            lambda: dict.fromkeys(COUNTERS, 0)
        )
        self.store_bytes: dict[str, float] = defaultdict(float)  # item -> bytes
        self.store_files: dict[str, float] = defaultdict(float)
        exec_job: dict[int, Job] = {}
        for job in jobs.values():
            self._of(job)["jobs"] += 1
            if job.execution is not None:
                exec_job.setdefault(job.execution, job)
        for stage, tm, accs in task_rows:
            c = self._of(jobs.get(stage_job.get(stage, -1)))
            c["tasks"] += 1
            c["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            sw, sr = tm.get("Shuffle Write Metrics", {}), tm.get("Shuffle Read Metrics", {})
            c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            c["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            c["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            c["input_records"] += tm.get("Input Metrics", {}).get("Records Read", 0)
            c["output_bytes"] += tm.get("Output Metrics", {}).get("Bytes Written", 0)
            c["output_records"] += tm.get("Output Metrics", {}).get("Records Written", 0)
            for a in accs:
                info = metric_info.get(a.get("ID"))
                if info and info[0] in PYTHON_NODES and info[2] == "number of output rows":
                    c["python_rows"] += float(a.get("Update") or 0)
        for acc_id, value in accum.items():
            info = metric_info.get(acc_id)
            job = exec_job.get(accum_exec[acc_id])
            if info is None or job is None:
                continue
            c = self._of(job)
            node, desc, metric = info
            store = "/store/" in desc
            if node.startswith("Scan") and metric == "number of files read":
                c["files_read"] += value
                if store:
                    self.store_files[job.item or ""] += value
            elif node.startswith("Scan") and metric == "size of files read":
                c["files_read_bytes"] += value
                if store:
                    self.store_bytes[job.item or ""] += value
            elif metric == "number of written files":
                c["files_written"] += value

    def _of(self, job: Job | None) -> dict[str, float]:
        if job is None:
            return self.counters[("unattributed", "")]
        return self.counters[(job.layer or "unattributed", job.item or "")]

    def total(self, layers: set[str] | None, items: set[str]) -> dict[str, float]:
        """Counters summed over ``items`` and ``layers`` (None: all)."""
        out = dict.fromkeys(COUNTERS, 0.0)
        for (layer, item), c in self.counters.items():
            if item in items and (layers is None or layer in layers):
                for k, v in c.items():
                    out[k] += v
        return out

    def driver_gap_s(self, intervals: list[tuple[float, float]]) -> float:
        """Time inside ``intervals`` during which no Spark job ran."""
        runs = [(j.start, j.end) for j in self.jobs.values() if j.end is not None]
        gap = 0.0
        for a, b in intervals:
            gap += (b - a) - covered([(max(s, a), min(e, b)) for s, e in runs if e > a and s < b])
        return gap
