"""Spans around layer calls, Spark job attribution and memory sampling.

Spans are recorded in every run (they are list appends); the traced
run additionally turns on the Spark UI and, after the workload ends,
reads every job and stage from the UI REST API once and counts each
job under every span whose interval holds its submission time. Nothing
here runs inside a timed call.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` around the block; the yielded dict gets
        ``dur`` (seconds, perf_counter) when the block ends, also when
        it raises (then ``error`` is set)."""
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.time(),
            **attrs,
        }
        self.spans.append(s)
        self._stack.append(s["id"])
        t0 = time.perf_counter()
        try:
            yield s
        except BaseException as exc:
            s["error"] = f"{type(exc).__name__}: {exc}"[:300]
            raise
        finally:
            s["dur"] = time.perf_counter() - t0
            s["end"] = s["start"] + s["dur"]
            self._stack.pop()

    def named(self, name: str, ok_only: bool = True) -> list[dict]:
        return [s for s in self.spans
                if s["name"] == name and "dur" in s
                and not (ok_only and "error" in s)]

    def self_times(self) -> dict[str, float]:
        """Seconds per span name not covered by its child spans."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if "dur" not in s:
                continue
            covered = _union(
                [(c["start"], c["end"]) for c in children.get(s["id"], [])],
                s["start"], s["end"])
            out[s["name"]] = out.get(s["name"], 0.0) + s["dur"] - covered
        return out


def _union(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _epoch(ts: str) -> float:
    # UI REST timestamps look like 2026-10-17T04:10:11.123GMT
    return datetime.strptime(
        ts.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z"
    ).timestamp()


class JobLog:
    """Every Spark job and stage of the application, read once from the
    UI REST API (traced runs only)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        # the status listener is asynchronous: wait until the job list
        # stops growing and no job is still running
        prev = -1
        for _ in range(50):
            jobs = _get(f"{base}/jobs")
            if len(jobs) == prev and all(j["status"] != "RUNNING" for j in jobs):
                break
            prev = len(jobs)
            time.sleep(0.2)
        stages = {s["stageId"]: s for s in _get(f"{base}/stages")}
        self.jobs = []
        for j in jobs:
            if "submissionTime" not in j:
                continue
            st = [stages[i] for i in j["stageIds"] if i in stages]
            self.jobs.append({
                "id": j["jobId"],
                "submit": _epoch(j["submissionTime"]),
                "end": _epoch(j["completionTime"]) if "completionTime" in j
                else time.time(),
                # skipped stages ran no tasks in this job
                "tasks": j["numCompletedTasks"],
                "shuffle_bytes": sum(s.get("shuffleWriteBytes", 0) for s in st
                                     if s["status"] == "COMPLETE"),
                "spill_bytes": sum(s.get("memoryBytesSpilled", 0)
                                   + s.get("diskBytesSpilled", 0) for s in st
                                   if s["status"] == "COMPLETE"),
                "peak_mem": max((s.get("peakExecutionMemory", 0) for s in st),
                                default=0),
            })

    def in_span(self, span: dict) -> list[dict]:
        return [j for j in self.jobs if span["start"] <= j["submit"] <= span["end"]]

    def call_stats(self, spans: list[dict]) -> dict[str, float]:
        """Over ``spans``: per-call means of jobs, tasks, shuffle and
        spill bytes, the share of wall time no job covers (driver-side
        planning, commits, Python), and the largest stage's peak
        execution memory."""
        if not spans:
            return {"jobs": 0.0, "tasks": 0.0, "driver_gap_share": 0.0,
                    "shuffle_bytes": 0.0, "spill_bytes": 0.0, "peak_mem": 0.0}
        jobs = [self.in_span(s) for s in spans]
        wall = sum(s["dur"] for s in spans)
        covered = sum(
            _union([(j["submit"], j["end"]) for j in js], s["start"], s["end"])
            for s, js in zip(spans, jobs))
        flat = [j for js in jobs for j in js]
        return {
            "jobs": len(flat) / len(spans),
            "tasks": sum(j["tasks"] for j in flat) / len(spans),
            "driver_gap_share": 1.0 - covered / wall if wall > 0 else 0.0,
            "shuffle_bytes": sum(j["shuffle_bytes"] for j in flat) / len(spans),
            "spill_bytes": sum(j["spill_bytes"] for j in flat) / len(spans),
            "peak_mem": float(max((j["peak_mem"] for j in flat), default=0)),
        }


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: ppid is the 2nd field after ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def pss_mb(pids: list[int]) -> float:
    """Summed proportional set size: pages shared by forked Python
    workers count once in total, not once per worker."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total / 1024


class MemSampler:
    """Peak summed PSS of this process's descendants (the driver JVM
    and the Python workers it forks), sampled every ``interval`` s
    between ``start()`` and ``stop()``."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_mb = 0.0
        self._halt = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        me = os.getpid()
        while not self._halt.is_set():
            self.peak_mb = max(self.peak_mb, pss_mb(descendants(me)))
            self._halt.wait(self.interval)

    def start(self) -> None:
        self._halt.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._halt.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
