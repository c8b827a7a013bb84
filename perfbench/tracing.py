"""Span recorder, engine wrappers and Spark event-log parsing for the
traced run.

A span is (id, name, start, end, parent, run id, job group). Spans are
kept in memory and written out when the run ends. Every span runs under
its own Spark job group, so the jobs Spark
records in its event log map back to the call that launched them. Lazy
engine calls (plan builders) only cover plan-build time; the execution
they describe is attributed to whichever span runs the action, through
the job groups.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


class Tracer:
    """Records spans. Each span sets its own Spark job group for its
    duration and restores the enclosing one."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main_stack: list[dict] | None = None

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
            if self._main_stack is None:
                self._main_stack = st
        return st

    def _set_group(self, group: str | None, desc: str | None) -> None:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.setLocalProperty("spark.jobGroup.id", group)
            sc.setLocalProperty("spark.job.description", desc)

    def span(self, name: str):
        return _Span(self, name)

    def open(self, name: str) -> dict:
        stack = self._stack()
        # a span opened on a callback thread (a foreachBatch sink) has no
        # stack of its own; its parent is the main thread's open span
        parent_stack = stack or (self._main_stack or [])
        parent = parent_stack[-1] if parent_stack else None
        with self._lock:
            sp = {
                "id": len(self.spans),
                "name": name,
                "start": time.time(),
                "end": None,
                "parent": parent["id"] if parent else None,
                "run_id": self.run_id,
                "group": f"{self.run_id}:{len(self.spans)}",
            }
            self.spans.append(sp)
        stack.append(sp)
        self._set_group(sp["group"], name)
        return sp

    def close(self, sp: dict) -> None:
        sp["end"] = time.time()
        stack = self._stack()
        stack.remove(sp)
        outer = stack[-1] if stack else None
        self._set_group(outer["group"] if outer else None, outer["name"] if outer else None)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        self.sp = self.tracer.open(self.name)
        return self.sp

    def __exit__(self, *exc):
        self.tracer.close(self.sp)
        return False


def instrument(tracer: Tracer, targets: list[tuple[object, str, str]]):
    """Replace ``module.attr`` with a span-recording wrapper for every
    (module, attr, span name) target. Names bound at import in other
    modules are separate targets. Returns an undo function."""
    saved = []
    wrapped: dict[int, object] = {}
    for module, attr, name in targets:
        orig = getattr(module, attr)
        if id(orig) not in wrapped:
            wrapped[id(orig)] = tracer.wrap(orig, name)
        saved.append((module, attr, orig))
        setattr(module, attr, wrapped[id(orig)])

    def undo():
        for module, attr, orig in reversed(saved):
            setattr(module, attr, orig)

    return undo


def _covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval covered by
    its children."""
    children = defaultdict(list)
    for sp in spans:
        if sp["parent"] is not None and sp["end"] is not None:
            children[sp["parent"]].append(sp)
    return {
        sp["id"]: (sp["end"] - sp["start"]) - _covered(
            (max(c["start"], sp["start"]), min(c["end"], sp["end"])) for c in children[sp["id"]]
        )
        for sp in spans
        if sp["end"] is not None
    }


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and tasks from an uncompressed Spark event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages_done: set[tuple[int, int]] = set()
    tasks: list[dict] = []
    files = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")
    )
    for path in files:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = {
                        "submit": e["Submission Time"] / 1000.0,
                        "group": props.get("spark.jobGroup.id"),
                    }
                    for s in e["Stage IDs"]:
                        stage_job.setdefault(s, e["Job ID"])
                elif ev == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    stages_done.add((info["Stage ID"], info.get("Stage Attempt ID", 0)))
                elif ev == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    ti = e["Task Info"]
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "stage": e["Stage ID"],
                        "launch": ti["Launch Time"] / 1000.0,
                        "finish": ti["Finish Time"] / 1000.0,
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    })
    return {"jobs": jobs, "stage_job": stage_job, "stages_done": stages_done, "tasks": tasks}


def spark_window_metrics(log: dict, t0: float, t1: float, n_ops: int) -> dict:
    """``spark.*`` metrics for jobs submitted in [t0, t1], per operation.
    ``driver_residual_s`` is wall time minus the time at least one task
    was running: the part of the window spent outside executors."""
    jobs = {j: v for j, v in log["jobs"].items() if t0 <= v["submit"] <= t1}
    stage_ids = {s for s, j in log["stage_job"].items() if j in jobs}
    tasks = [t for t in log["tasks"] if t["stage"] in stage_ids]
    stages = {(s, a) for (s, a) in log["stages_done"] if s in stage_ids}
    busy = _covered((max(t["launch"], t0), min(t["finish"], t1)) for t in tasks)
    n = max(n_ops, 1)
    return {
        "spark.jobs": len(jobs) / n,
        "spark.stages": len(stages) / n,
        "spark.tasks": len(tasks) / n,
        "spark.executor_run_s": sum(t["run_ms"] for t in tasks) / 1e3 / n,
        "spark.executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9 / n,
        "spark.gc_s": sum(t["gc_ms"] for t in tasks) / 1e3 / n,
        "spark.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks) / n,
        "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks) / n,
        "spark.spill_bytes": sum(t["spill"] for t in tasks) / n,
        "spark.driver_residual_s": ((t1 - t0) - busy) / n,
    }


def jobs_by_span(log: dict, spans: list[dict]) -> dict[int, int]:
    """Span id -> number of jobs launched under that span or any of its
    descendants (a job belongs to the span whose group it carries)."""
    by_group = {sp["group"]: sp for sp in spans}
    direct = defaultdict(int)
    for j in log["jobs"].values():
        sp = by_group.get(j["group"])
        if sp is not None:
            direct[sp["id"]] += 1
    total = defaultdict(int)
    parents = {sp["id"]: sp["parent"] for sp in spans}
    for sid, n in direct.items():
        cur = sid
        while cur is not None:
            total[cur] += n
            cur = parents.get(cur)
    return dict(total)


def summarize_spans(spans: list[dict], jobs: dict[int, int]) -> dict:
    """Per span name: calls, total and self seconds, jobs."""
    selfs = self_times(spans)
    out: dict[str, dict] = {}
    for sp in spans:
        if sp["end"] is None:
            continue
        agg = out.setdefault(sp["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0, "jobs": 0})
        agg["calls"] += 1
        agg["total_s"] += sp["end"] - sp["start"]
        agg["self_s"] += selfs[sp["id"]]
        agg["jobs"] += jobs.get(sp["id"], 0)
    return out
