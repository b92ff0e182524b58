"""Spans around the engine's public functions, credited with Spark work.

The engine is not edited: ``Tracer.wrap`` replaces a module or class
attribute with a wrapper that records a span, and the benchmark calls the
engine through those attributes.  Each span runs its Spark jobs under a job
group of its own, so after ``spark.stop()`` the event log credits every job,
task, CPU nanosecond, shuffle byte and spilled byte to the span that
submitted it.  Python-worker CPU (the MVT encoder and pandas UDFs, which the
event log's executor CPU leaves out) is read from /proc at the span edges.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"


class Tracer:
    def __init__(self, spark, meter):
        self.sc = spark.sparkContext
        self.meter = meter
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0
        self._patches: list[tuple] = []

    def _stack(self) -> list[str]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, key=None, jobs: bool = True, pyworker: bool = False):
        with self._lock:
            sid = f"perfbench-{self._next}"
            self._next += 1
        stack = self._stack()
        rec = {"id": sid, "name": name, "parent": stack[-1] if stack else None, "key": key}
        if jobs:
            prev = (self.sc.getLocalProperty(_GROUP), self.sc.getLocalProperty(_DESC))
            self.sc.setJobGroup(sid, name)
        if pyworker:
            rec["pyw0"] = self.meter.pyworker_cpu()
        stack.append(sid)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if pyworker:
                rec["pyworker_cpu_s"] = self.meter.pyworker_cpu() - rec.pop("pyw0")
            if jobs:
                self.sc.setLocalProperty(_GROUP, prev[0])
                self.sc.setLocalProperty(_DESC, prev[1])
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, key=None, pyworker: bool = False) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with self.span(name, key=key(*a) if key else None, pyworker=pyworker) as rec:
                out = orig(*a, **kw)
                rec["result"] = out if isinstance(out, int) else None
                return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()


def read_eventlog(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, tasks, task metrics, job intervals (epoch s) and
    each stage's task run times (ms)."""
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}

    def g(name):
        return groups.setdefault(name, {
            "jobs": 0, "tasks": 0, "exec_cpu_ms": 0.0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "input_bytes": 0, "intervals": [],
            "stage_task_ms": {},
        })

    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(path) or os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    grp = (e.get("Properties") or {}).get(_GROUP)
                    if grp is None:
                        continue
                    jid = e["Job ID"]
                    job_group[jid] = grp
                    job_start[jid] = e["Submission Time"] / 1000.0
                    g(grp)["jobs"] += 1
                    for s in e.get("Stage IDs", []):
                        stage_group[s] = grp
                elif kind == "SparkListenerJobEnd":
                    jid = e["Job ID"]
                    if jid in job_group:
                        g(job_group[jid])["intervals"].append(
                            (job_start[jid], e["Completion Time"] / 1000.0))
                elif kind == "SparkListenerTaskEnd":
                    grp = stage_group.get(e.get("Stage ID"))
                    if grp is None:
                        continue
                    m = e.get("Task Metrics") or {}
                    r = g(grp)
                    r["tasks"] += 1
                    r["exec_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    r["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    r["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    r["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    r["stage_task_ms"].setdefault(e["Stage ID"], []).append(m.get("Executor Run Time", 0))
    return groups


def _covered(intervals, lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of intervals."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def task_skew(stage_task_ms: dict[int, list]) -> float:
    """Longest task over mean task run time, in the stage with the most task
    run time: how far the heaviest partition holds a stage up (1 = even)."""
    runs = max(stage_task_ms.values(), key=sum, default=[])
    return max(runs) * len(runs) / sum(runs) if sum(runs) else 0.0


def span_table(spans: list[dict], groups: dict[str, dict]) -> list[dict]:
    """Every span with inclusive Spark metrics (its own job group plus its
    descendants'), self time, driver time (span time with no job of its
    subtree running) and task skew."""
    kids: dict[str, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)

    def subtree(s):
        yield s
        for k in kids.get(s["id"], []):
            yield from subtree(k)

    rows = []
    for s in spans:
        dur = s["end"] - s["start"]
        sub = list(subtree(s))
        agg = {k: 0.0 for k in ("jobs", "tasks", "exec_cpu_ms",
                                "shuffle_write_bytes", "spill_bytes", "input_bytes")}
        intervals = []
        stages = {}
        for t in sub:
            gr = groups.get(t["id"])
            if gr:
                for k in agg:
                    agg[k] += gr[k]
                intervals += gr["intervals"]
                stages.update(gr["stage_task_ms"])
        rows.append({
            **s,
            "ms": dur * 1000,
            "self_ms": (dur - sum(k["end"] - k["start"] for k in kids.get(s["id"], []))) * 1000,
            "driver_ms": (dur - _covered(intervals, s["start"], s["end"])) * 1000,
            "task_skew": task_skew(stages),
            **agg,
        })
    return rows
