"""Spans, Spark job metrics and memory sampling for the benchmark.

Spans are kept in memory and written once at the end of a run. Every
span is timed in both modes; only a traced run keeps the span records
and tags the Spark jobs a span starts with ``setJobGroup``, so that the
status REST API can attribute stage metrics to the layer call.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager


class Span:
    __slots__ = ("name", "parent", "start", "end", "group")

    def __init__(self, name: str, parent: str | None, group: str):
        self.name, self.parent, self.group = name, parent, group
        self.start = self.end = time.perf_counter()

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.prefix = ""

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, parent.name if parent else None, f"{self.prefix}{name}")
        self._stack.append(sp)
        if self.enabled:
            self.sc.setJobGroup(sp.group, name)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                self.spans.append(sp)
                if parent is not None:
                    self.sc.setJobGroup(parent.group, parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def records(self) -> list[dict]:
        return [
            {
                "name": s.name, "parent": s.parent, "run": self.run_id,
                "group": s.group, "start": s.start, "end": s.end,
            }
            for s in self.spans
        ]


class SparkMetrics:
    """Stage metrics per job group from the Spark status REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def driver_gc_ms(self) -> int:
        return sum(int(e.get("totalGCTime", 0)) for e in self._get("allexecutors"))

    def by_group(self, prefix: str) -> dict[str, dict]:
        """Totals for every job whose group starts with ``prefix``."""
        tracker = self.sc.statusTracker()
        deadline = time.time() + 20
        while True:  # the listener bus publishes asynchronously
            jobs = [j for j in self._get("jobs") if (j.get("jobGroup") or "").startswith(prefix)]
            want = {
                g: set(tracker.getJobIdsForGroup(g)) for g in {j["jobGroup"] for j in jobs}
            }
            have = {g: {j["jobId"] for j in jobs if j["jobGroup"] == g} for g in want}
            done = all(j["status"] != "RUNNING" for j in jobs)
            if (have == want and done) or time.time() > deadline:
                break
            time.sleep(0.2)
        stages = {
            s["stageId"]: s
            for s in self._get("stages")
            if s["status"] == "COMPLETE"
        }
        out: dict[str, dict] = {}
        for j in jobs:
            g = out.setdefault(
                j["jobGroup"],
                {"jobs": 0, "tasks": 0, "failed_tasks": 0, "shuffle_write_mb": 0.0,
                 "shuffle_read_mb": 0.0, "spill_mb": 0.0},
            )
            g["jobs"] += 1
            for sid in j["stageIds"]:
                s = stages.pop(sid, None)  # a stage is shared by later jobs' skips
                if s is None:
                    continue
                g["tasks"] += s["numCompleteTasks"]
                g["failed_tasks"] += s["numFailedTasks"]
                g["shuffle_write_mb"] += s["shuffleWriteBytes"] / 1e6
                g["shuffle_read_mb"] += s["shuffleReadBytes"] / 1e6
                g["spill_mb"] += (s["memoryBytesSpilled"] + s["diskBytesSpilled"]) / 1e6
        return out


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants_rss_mb(root: int) -> float:
    """Summed VmRSS of every process below ``root`` (the JVM and its
    Python workers, not the benchmark's own interpreter)."""
    kids = _children()
    todo, total = list(kids.get(root, [])), 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024.0


class RssSampler:
    """Peak of ``descendants_rss_mb`` sampled every ``period`` seconds."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, descendants_rss_mb(me))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
