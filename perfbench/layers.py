"""Spans recorded around the benchmark's calls into each layer, and the
fold of a Spark event log into per-operation layer metrics.

A span is ``(op, start, end)`` in wall-clock seconds.  Spans may nest
(a compaction inside a commit); a job belongs to the innermost span
open when it was submitted.  Direct calls also tag their jobs with the
span's op as the Spark job group; jobs submitted from other threads
(the HTTP server's handlers, an index build's thread pool) carry no group
and are attributed by time window, which is unambiguous because the
benchmark runs one closed-loop client.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

JOB_GROUP = "spark.jobGroup.id"
STATS = ("wall_s", "jobs", "stages", "tasks", "task_run_s", "task_cpu_s",
         "driver_s", "exchanges", "python_ops")


class Spans:
    def __init__(self):
        # the context is set only on traced runs; untraced runs record
        # spans (a clock read each) but never touch Spark properties
        self.sc = None
        self.items: list[tuple[str, float, float]] = []

    @contextmanager
    def span(self, op: str):
        if self.sc is not None:
            self.sc.setLocalProperty(JOB_GROUP, op)
        t0 = time.time()
        try:
            yield
        finally:
            self.items.append((op, t0, time.time()))
            if self.sc is not None:
                self.sc.setLocalProperty(JOB_GROUP, None)

    def walls(self, op: str) -> list[float]:
        return [t1 - t0 for o, t0, t1 in self.items if o == op]


def read_event_log(event_dir: str) -> list[dict]:
    """Every event of every (uncompressed) log file under ``event_dir``."""
    events = []
    for path in sorted(glob.glob(f"{event_dir}/**", recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def _is_python_op(name: str) -> bool:
    return "Python" in name or "InPandas" in name or "InArrow" in name


def _plan_counts(node: dict) -> tuple[int, int]:
    """(exchanges, python-evaluating operators) of a sparkPlanInfo tree."""
    name = node.get("nodeName", "")
    ex = int(name in ("Exchange", "BroadcastExchange"))
    py = int(_is_python_op(name))
    for child in node.get("children", []):
        e, p = _plan_counts(child)
        ex += e
        py += p
    return ex, py


def _owner(spans, t: float, group: str | None) -> str | None:
    """The op a job or plan belongs to: its job group when it carries
    one, else the innermost span open at time ``t``."""
    if group:
        return group
    best = None
    for op, t0, t1 in spans:
        if t0 <= t <= t1 and (best is None or t1 - t0 < best[1]):
            best = (op, t1 - t0)
    return best[0] if best else None


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def fold(events: list[dict], spans: list[tuple[str, float, float]],
         ops: list[str]) -> dict[str, float]:
    """Per-op means per call of every stat in ``STATS``, as
    ``{"<op>.<stat>": value}``.  An op without a span reports 0."""
    jobs: dict[int, dict] = {}
    stage_tasks: dict[int, int] = {}
    stage_run: dict[int, float] = defaultdict(float)
    stage_cpu: dict[int, float] = defaultdict(float)
    plans: dict[int, dict] = {}
    for e in events:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = {
                "t0": e["Submission Time"] / 1000.0, "t1": None,
                "stages": e.get("Stage IDs", []),
                "group": props.get(JOB_GROUP),
            }
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["t1"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            stage_tasks[info["Stage ID"]] = info["Number of Tasks"]
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            sid = e["Stage ID"]
            stage_run[sid] += m.get("Executor Run Time", 0) / 1000.0
            stage_cpu[sid] += m.get("Executor CPU Time", 0) / 1e9
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            plans[e["executionId"]] = {
                "t": e["time"] / 1000.0, "plan": e["sparkPlanInfo"],
            }
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            if e["executionId"] in plans:
                plans[e["executionId"]]["plan"] = e["sparkPlanInfo"]

    acc: dict[str, dict[str, float]] = {
        op: defaultdict(float) for op in ops
    }
    job_intervals: dict[str, list] = defaultdict(list)
    for job in jobs.values():
        group = job["group"] if job["group"] in acc else None
        op = _owner(spans, job["t0"], group)
        if op not in acc:
            continue
        a = acc[op]
        a["jobs"] += 1
        done = [s for s in job["stages"] if s in stage_tasks]
        a["stages"] += len(done)
        a["tasks"] += sum(stage_tasks[s] for s in done)
        a["task_run_s"] += sum(stage_run[s] for s in done)
        a["task_cpu_s"] += sum(stage_cpu[s] for s in done)
        job_intervals[op].append((job["t0"], job["t1"] or job["t0"]))
    for p in plans.values():
        op = _owner(spans, p["t"], None)
        if op in acc:
            ex, py = _plan_counts(p["plan"])
            acc[op]["exchanges"] += ex
            acc[op]["python_ops"] += py
    calls: dict[str, int] = defaultdict(int)
    for op, t0, t1 in spans:
        if op in acc:
            calls[op] += 1
            acc[op]["wall_s"] += t1 - t0
            acc[op]["driver_s"] += (t1 - t0) - _covered(
                job_intervals[op], t0, t1
            )
    out = {}
    for op in ops:
        n = max(calls[op], 1)
        for stat in STATS:
            out[f"{op}.{stat}"] = acc[op][stat] / n
    return out
