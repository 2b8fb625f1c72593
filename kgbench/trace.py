"""Spans recorded from outside the program under test.

A :class:`Tracer` puts a span around each call the benchmark makes into an
``odinson_spark`` module. Each span gets its own Spark job group, so the
Spark UI's REST API can attribute jobs, tasks, CPU, GC and shuffle bytes to
it. Spans stay in memory and are written out once, when the run ends.

With ``enabled=False`` every method is a cheap no-op apart from timing the
span, so untraced runs time the same code without touching Spark's job
groups.
"""

from __future__ import annotations

import json
import statistics
import time
import urllib.request
from contextlib import contextmanager
from typing import List, Optional


class Tracer:
    def __init__(self, sc, run_id: str, enabled: bool):
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: List[dict] = []
        self._stack: List[int] = []

    @contextmanager
    def span(self, name: str):
        """Time a block; when tracing, give it a job group of its own and
        restore the parent's group afterwards."""
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "run": self.run_id,
               "group": f"{self.run_id}-s{sid}", "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(sid)
        if self.enabled:
            self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                if parent is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    self.sc.setJobGroup(self.spans[parent]["group"], self.spans[parent]["name"])

    # -- derived timings ----------------------------------------------------

    def wall(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def self_time(self, rec: dict) -> float:
        """Span duration minus the union of its children's intervals."""
        kids = sorted(
            (s["start"], s["end"]) for s in self.spans if s["parent"] == rec["id"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return self.wall(rec) - covered

    def named(self, name: str) -> List[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(self.wall(s) for s in self.named(name))

    def subtree_groups(self, rec: dict) -> List[str]:
        ids = {rec["id"]}
        for s in self.spans:  # spans are appended parent-first
            if s["parent"] in ids:
                ids.add(s["id"])
        return [self.spans[i]["group"] for i in sorted(ids)]

    def coverage(self, t0: float, t1: float) -> float:
        """Share of [t0, t1] covered by top-level spans."""
        tops = sorted(
            (max(s["start"], t0), min(s["end"], t1))
            for s in self.spans
            if s["parent"] is None and s["end"] > t0 and s["start"] < t1
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in tops:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return covered / max(t1 - t0, 1e-9)

    def dump(self, path: str, extra: Optional[dict] = None) -> None:
        """Write the spans, each with its self time, and ``extra``."""
        spans = [{**s, "self_s": self.self_time(s)} for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": spans, **(extra or {})}, f, indent=1)


class SparkRest:
    """Job, stage and task metrics from the Spark UI's REST API, grouped by
    job group. Only usable when the session runs with the UI enabled."""

    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._jobs = None
        self._stages = None

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read().decode())

    def load(self) -> None:
        # the listener bus is asynchronous: wait until every job has ended
        for _ in range(100):
            jobs = self._get("/jobs")
            if all(j["status"] != "RUNNING" for j in jobs):
                break
            time.sleep(0.1)
        self._jobs = jobs
        self._stages = {
            (s["stageId"], s["attemptId"]): s for s in self._get("/stages")
        }

    def jobs_of(self, groups) -> List[dict]:
        groups = set(groups)
        return [j for j in self._jobs if j.get("jobGroup") in groups]

    def stages_of(self, groups) -> List[dict]:
        ids = {sid for j in self.jobs_of(groups) for sid in j["stageIds"]}
        return [s for (sid, _), s in self._stages.items()
                if sid in ids and s["status"] == "COMPLETE"]

    def task_times_ms(self, stages) -> List[float]:
        out = []
        for s in stages:
            tasks = self._get(
                f"/stages/{s['stageId']}/{s['attemptId']}/taskList?length=100000"
            )
            out.extend(
                t["taskMetrics"]["executorRunTime"] for t in tasks if t.get("taskMetrics")
            )
        return out

    def span_metrics(self, groups, wall_s: float, slots: int) -> dict:
        """jobs, tasks, CPU/GC share of task run time and idle slot share."""
        jobs = self.jobs_of(groups)
        stages = self.stages_of(groups)
        run_ms = sum(s["executorRunTime"] for s in stages)
        cpu_ms = sum(s["executorCpuTime"] for s in stages) / 1e6
        gc_ms = sum(s["jvmGcTime"] for s in stages)
        return {
            "jobs": len(jobs),
            "tasks": sum(s["numCompleteTasks"] for s in stages),
            "cpu_frac": cpu_ms / run_ms if run_ms else 0.0,
            "gc_frac": gc_ms / run_ms if run_ms else 0.0,
            "idle_slot_frac": max(0.0, 1.0 - run_ms / (wall_s * 1000.0 * slots)) if wall_s else 0.0,
            "run_ms": run_ms,
            "cpu_ms": cpu_ms,
            "gc_ms": gc_ms,
            "shuffle_bytes": sum(s["shuffleWriteBytes"] for s in stages),
        }


def task_skew(times_ms: List[float]) -> float:
    """max ÷ median task run time."""
    if not times_ms:
        return 0.0
    med = statistics.median(times_ms)
    return max(times_ms) / med if med else 0.0
