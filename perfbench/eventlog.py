"""Spark event log → per-op, per-layer report.

The traced run writes an uncompressed event log. This module reads it
back and attributes every job, stage and task to the op that started it
(the job group is the op id), and counts each op's jobs by the call
that started them (the job description is the span id; see
``spans.py``). Python-worker metrics come from the SQL metrics of
the plan's Python nodes (``MapInPandas``, ``ArrowEvalPython``, ...),
whose accumulator updates ride on each task's end event.

``layer_report`` then splits each op's wall time into three buckets:
``driver`` (inside a span but no job running), ``job`` (a job running
but none of its tasks) and ``task`` (at least one task running), and
gives each span name its self time: its duration minus what its child
spans cover.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict
from dataclasses import dataclass, field

# SQL metric names of the Python runners (PythonSQLMetrics in Spark 4.1)
PY_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
_PY_NODE = re.compile(r"Python|Pandas|InArrow")


def read_events(path: str):
    """Events of one application: a single file, or a rolling log
    directory of ``events_<n>_<app>`` files read in order."""
    if os.path.isdir(path):
        files = sorted(
            glob.glob(os.path.join(path, "events_*")),
            key=lambda f: int(os.path.basename(f).split("_")[1]),
        )
    else:
        files = [path]
    for fn in files:
        with open(fn) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


@dataclass
class Job:
    id: int
    group: "str | None"
    desc: "str | None"
    start: float
    end: float = 0.0
    stages: "list[int]" = field(default_factory=list)


@dataclass
class Task:
    stage: int
    start: float
    end: float
    metrics: "dict[str, float]"


class EventLog:
    def __init__(self, events):
        self.jobs: "dict[int, Job]" = {}
        self.stage_props: "dict[int, tuple]" = {}
        self.tasks: "list[Task]" = []
        self._accum_node: "dict[int, tuple[str, str]]" = {}
        pending = []
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                p = e.get("Properties") or {}
                self.jobs[e["Job ID"]] = Job(
                    e["Job ID"],
                    p.get("spark.jobGroup.id"),
                    p.get("spark.job.description"),
                    e["Submission Time"] / 1000.0,
                    stages=list(e.get("Stage IDs", [])),
                )
            elif kind == "SparkListenerJobEnd":
                job = self.jobs.get(e["Job ID"])
                if job is not None:
                    job.end = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                p = e.get("Properties") or {}
                self.stage_props[e["Stage Info"]["Stage ID"]] = (
                    p.get("spark.jobGroup.id"),
                    p.get("spark.job.description"),
                )
            elif kind == "SparkListenerTaskEnd":
                pending.append(e)
            elif "sparkPlanInfo" in e:
                self._index_plan(e["sparkPlanInfo"])
        for e in pending:
            self.tasks.append(self._task(e))

    def _index_plan(self, node) -> None:
        for m in node.get("metrics", []):
            self._accum_node[m["accumulatorId"]] = (node["nodeName"], m["name"])
        for c in node.get("children", []):
            self._index_plan(c)

    def _task(self, e) -> Task:
        info, tm = e["Task Info"], e.get("Task Metrics") or {}
        sw = tm.get("Shuffle Write Metrics", {})
        sr = tm.get("Shuffle Read Metrics", {})
        m = defaultdict(float)
        m["spark.executor_run_s"] = tm.get("Executor Run Time", 0) / 1e3
        m["spark.executor_cpu_s"] = tm.get("Executor CPU Time", 0) / 1e9
        m["spark.gc_s"] = tm.get("JVM GC Time", 0) / 1e3
        m["spark.shuffle_write_bytes"] = sw.get("Shuffle Bytes Written", 0)
        m["spark.shuffle_write_s"] = sw.get("Shuffle Write Time", 0) / 1e9
        m["spark.shuffle_read_bytes"] = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        m["spark.spill_bytes"] = tm.get("Disk Bytes Spilled", 0)
        m["spark.input_bytes"] = tm.get("Input Metrics", {}).get("Bytes Read", 0)
        m["spark.output_bytes"] = tm.get("Output Metrics", {}).get("Bytes Written", 0)
        for a in info.get("Accumulables", []):
            name = a.get("Name")
            if name in PY_METRICS:
                scale = 1e3 if PY_METRICS[name].endswith("_s") else 1.0
                m[PY_METRICS[name]] += float(a.get("Update", 0)) / scale
            elif name == "number of output rows":
                node = self._accum_node.get(a.get("ID"), ("", ""))[0]
                if _PY_NODE.search(node):
                    m["python.rows_received"] += float(a.get("Update", 0))
                if node == "MapInPandas":
                    m["python.map_in_pandas_rows"] += float(a.get("Update", 0))
        return Task(e["Stage ID"], info["Launch Time"] / 1e3, info["Finish Time"] / 1e3, dict(m))

    def stage_group(self, stage: int) -> "str | None":
        """The job group (op) a stage ran for."""
        props = self.stage_props.get(stage)
        if props is not None:
            return props[0]
        for j in self.jobs.values():
            if stage in j.stages:
                return j.group
        return None


# ---- interval arithmetic ----------------------------------------------


def union(intervals) -> "list[tuple[float, float]]":
    out: "list[list[float]]" = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def clip(intervals, lo: float, hi: float) -> "list[tuple[float, float]]":
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def length(intervals) -> float:
    return sum(b - a for a, b in union(intervals))


def intersect(xs, ys) -> "list[tuple[float, float]]":
    xs, ys = union(xs), union(ys)
    out, i, j = [], 0, 0
    while i < len(xs) and j < len(ys):
        a, b = max(xs[i][0], ys[j][0]), min(xs[i][1], ys[j][1])
        if b > a:
            out.append((a, b))
        if xs[i][1] < ys[j][1]:
            i += 1
        else:
            j += 1
    return out


# ---- the report -------------------------------------------------------


# the library's layers, plus the benchmark's own work ("bench")
LAYERS = ("backends.ivf", "store", "knn", "grid", "dedup", "cluster", "bench")


def layer_of(span_name: str) -> str:
    for layer in LAYERS:
        if span_name.startswith(layer + "."):
            return layer
    return span_name.split(".", 1)[0]


def op_report(op: dict, spans: "list[dict]", log: EventLog) -> dict:
    """Buckets, Spark/Python sums and per-span-name self times of one op
    (``op`` is its root span; ``spans`` are all spans of that op)."""
    lo, hi = op["start"], op["end"]
    wall = hi - lo
    group = f"op{op['id']}"
    jobs = [j for j in log.jobs.values() if j.group == group]
    job_iv = clip([(j.start, j.end or hi) for j in jobs], lo, hi)
    tasks = [t for t in log.tasks if log.stage_group(t.stage) == group]
    task_iv = clip([(t.start, t.end) for t in tasks], lo, hi)
    child_iv = clip([(s["start"], s["end"]) for s in spans if s["id"] != op["id"]], lo, hi)

    job_s = length(job_iv)
    task_s = length(intersect(task_iv, job_iv))
    driver_s = length(child_iv) - length(intersect(child_iv, job_iv))
    sums: "dict[str, float]" = defaultdict(float)
    for t in tasks:
        for k, v in t.metrics.items():
            sums[k] += v
    task_time = sum(t.end - t.start for t in tasks)

    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    self_s: "dict[str, float]" = defaultdict(float)
    calls: "dict[str, int]" = defaultdict(int)
    name_of = {str(s["id"]): s["name"] for s in spans}
    jobs_by_span: "dict[str, int]" = defaultdict(int)
    for j in jobs:
        jobs_by_span[name_of.get(j.desc, "?")] += 1
    for s in spans:
        if s["id"] == op["id"]:
            continue
        kids = clip([(c["start"], c["end"]) for c in children[s["id"]]], s["start"], s["end"])
        self_s[s["name"]] += (s["end"] - s["start"]) - length(kids)
        calls[s["name"]] += 1
    routes = defaultdict(int)
    for s in spans:
        if s["name"] == "knn.knn_join":
            kid_names = {c["name"] for c in children[s["id"]]}
            if "knn.collect_query_matrix" in kid_names:
                routes["knn.route.partial"] += 1
            elif "grid.query_blocks" in kid_names:
                routes["knn.route.grid"] += 1

    return {
        "wall_s": wall,
        "buckets": {
            "driver_s": driver_s,
            "job_s": job_s - task_s,
            "task_s": task_s,
            "coverage": (driver_s + job_s) / wall if wall > 0 else 1.0,
        },
        "spark.jobs": len(jobs),
        "spark.stages": len({t.stage for t in tasks}),
        "spark.tasks": len(tasks),
        "spark.driver_outside_jobs_s": wall - job_s,
        "spark.parallelism": task_time / wall if wall > 0 else 0.0,
        **dict(sums),
        **dict(routes),
        "self_s": dict(self_s),
        "calls": dict(calls),
        "jobs_by_span": dict(jobs_by_span),
    }


def layer_report(spans: "list[dict]", log: EventLog, op_kinds: "dict[int, str]") -> dict:
    """Per-op reports for the ops named in ``op_kinds`` (op id → kind)."""
    by_op = defaultdict(list)
    for s in spans:
        by_op[s["op"]].append(s)
    out = {}
    for op_id, kind in op_kinds.items():
        members = by_op[op_id]
        root = next(s for s in members if s["id"] == op_id)
        out[op_id] = {"kind": kind, **op_report(root, members, log)}
    return out
