"""Spans around the engine's layer calls, recorded from outside the engine.

Each span tags its jobs with ``SparkContext.setJobGroup`` (group
``<workload>:<layer>:<op>``). Job counts come from
``statusTracker().getJobIdsForGroup``; stage CPU, shuffle, spill and task
quantiles come from the UI REST ``/jobs`` and ``/stages`` endpoints,
filtered by the same job group. Spans stay in memory until the run ends;
``resolve`` reads the job and stage data once, after the last op.

Span kinds split an op's wall time: ``build`` spans are engine calls that
run eager jobs while a DataFrame is being built; ``exec`` spans run a
plan the engine returned (writes, collects); ``plan`` spans force
Catalyst analysis, optimization and physical planning before the action.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    op: int
    layer: str
    kind: str  # "build" | "plan" | "exec"
    group: str
    ms: float
    jobs: list[int] = field(default_factory=list)


class Tracer:
    """Records spans when enabled; a disabled tracer only runs the body."""

    def __init__(self, spark, workload: str):
        self.spark = spark
        self.workload = workload
        self.enabled = False
        self.spans: list[Span] = []
        self._op = -1

    def set_op(self, op: int) -> None:
        self._op = op

    @contextmanager
    def span(self, layer: str, kind: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        group = f"{self.workload}:{layer}:{self._op}"
        sc.setJobGroup(group, layer)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            ms = (time.perf_counter() - t0) * 1000.0
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.spans.append(Span(self._op, layer, kind, group, ms))

    def gc_ms(self) -> float:
        """Total collection time of the driver JVM's garbage collectors."""
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))

    def _rest(self, path: str):
        sc = self.spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        url = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def resolve(self) -> dict[int, dict]:
        """Per-op stage totals of the ``exec`` spans, keyed by op index:
        jobs, stages, cpu_ms, shuffle_bytes, spill_bytes and the largest
        task max/median duration ratio, and jobs the REST store no longer
        holds. Fills ``Span.jobs`` for all spans."""
        tracker = self.spark.sparkContext.statusTracker()
        # the listener bus is asynchronous: wait until the last job is
        # visible with its final status before reading the REST store
        deadline = time.monotonic() + 30.0
        while True:
            running = tracker.getActiveJobsIds()
            if not running or time.monotonic() > deadline:
                break
            time.sleep(0.1)
        for s in self.spans:
            s.jobs = sorted(tracker.getJobIdsForGroup(s.group))
        jobs = {j["jobId"]: j for j in self._rest("/jobs")}
        attempts: dict[int, list] = {}
        for st in self._rest("/stages?details=false"):
            attempts.setdefault(st["stageId"], []).append(st)
        out: dict[int, dict] = {}
        for s in self.spans:
            if s.kind != "exec":
                continue
            acc = out.setdefault(s.op, {
                "jobs": 0, "stages": 0, "cpu_ms": 0.0, "shuffle_bytes": 0,
                "spill_bytes": 0, "task_max_over_median": 1.0, "missing_jobs": 0,
                "seen": set(),
            })
            acc["jobs"] += len(s.jobs)
            for jid in s.jobs:
                job = jobs.get(jid)
                if job is None or job.get("jobGroup") != s.group:
                    acc["missing_jobs"] += 1  # evicted from the UI store
                    continue
                for sid in job["stageIds"]:
                    if sid in acc["seen"]:
                        continue  # a later job of the op reused this stage
                    acc["seen"].add(sid)
                    for st in attempts.get(sid, []):
                        if st["status"] != "COMPLETE":
                            continue  # skipped: its output was reused
                        acc["stages"] += 1
                        acc["cpu_ms"] += st["executorCpuTime"] / 1e6
                        acc["shuffle_bytes"] += st["shuffleWriteBytes"]
                        acc["spill_bytes"] += (
                            st["memoryBytesSpilled"] + st["diskBytesSpilled"]
                        )
                        if st["numTasks"] > 1:
                            acc["task_max_over_median"] = max(
                                acc["task_max_over_median"],
                                self._task_ratio(sid, st["attemptId"]),
                            )
        return out

    def _task_ratio(self, stage_id: int, attempt: int) -> float:
        q = self._rest(
            f"/stages/{stage_id}/{attempt}/taskSummary?quantiles=0.5,1.0"
        )["executorRunTime"]
        return q[1] / q[0] if q[0] > 0 else 1.0
