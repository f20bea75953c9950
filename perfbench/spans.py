"""Spans around the engine's public calls, with Spark jobs attributed by job group.

A :class:`Tracer` records one span per public call the benchmark makes:
name, start, end, parent span and op id.  With tracing on, each span runs
under its own ``SparkContext.setJobGroup`` group; after the op the Spark
jobs of every group are read back from the driver's status store and
attached to their span as child spans (submission to completion time).
A span's self time is its duration minus the part its child spans and jobs
cover, which is driver-side time.

Jobs are attributed by group, not by name: job names only carry the Python
call site of actions, and parquet listing jobs are named after a JVM
accessor.  With tracing off a span only measures its own wall time.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    op_id: int
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    jobs: list[dict] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class SparkStatus:
    """Per-job-group counters read from the driver's status store via py4j."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        gw = self.sc._gateway
        # stageData has no usable defaults through py4j: pass all five
        self._no_tasks = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the final state of every finished job."""
        self._bus.waitUntilEmpty()

    def jobs(self, group: str) -> list[dict]:
        out = []
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            jd = self._store.job(job_id)
            sub, done = jd.submissionTime(), jd.completionTime()
            job = {"job_id": job_id,
                   "start": sub.get().getTime() / 1e3 if sub.isDefined() else None,
                   "end": done.get().getTime() / 1e3 if done.isDefined() else None,
                   "stages": 0, "tasks": 0, "executor_cpu_s": 0.0,
                   "executor_run_s": 0.0, "shuffle_write_bytes": 0,
                   "shuffle_read_bytes": 0, "spill_bytes": 0}
            it = jd.stageIds().iterator()
            while it.hasNext():
                attempts = self._store.stageData(
                    it.next(), False, self._no_tasks, False, self._no_quantiles)
                for k in range(attempts.size()):
                    sd = attempts.apply(k)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    job["stages"] += 1
                    job["tasks"] += sd.numCompleteTasks()
                    job["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    job["executor_run_s"] += sd.executorRunTime() / 1e3
                    job["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    job["shuffle_read_bytes"] += (sd.shuffleRemoteBytesRead()
                                                  + sd.shuffleLocalBytesRead())
                    job["spill_bytes"] += (sd.memoryBytesSpilled()
                                           + sd.diskBytesSpilled())
            out.append(job)
        return sorted(out, key=lambda j: j["job_id"])


class Tracer:
    """Spans kept in memory.  ``enabled`` turns on job attribution;
    ``active`` switches it per op, so one traced run can also time
    untraced ops and report the difference as tracing overhead."""

    def __init__(self, spark, enabled: bool):
        self.enabled = self.active = enabled
        self.sc = spark.sparkContext
        self.status = SparkStatus(spark) if enabled else None
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op = 0
        self._pending: list[Span] = []
        self.bookkeeping_s = 0.0
        #: op ids of the timed loop (set by the runner)
        self.loop_ops = range(0)

    def new_op(self) -> int:
        self._op += 1
        return self._op

    @contextmanager
    def span(self, name: str, op_id: int):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, op_id, parent, time.time())
        idx = len(self.spans)
        self.spans.append(s)
        if self.active:
            s.group = f"perfbench-{op_id}-{idx}"
            self.sc.setJobGroup(s.group, name)
        self._stack.append(idx)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if s.group is not None:
                outer = self.spans[self._stack[-1]] if self._stack else None
                if outer is not None:
                    self.sc.setJobGroup(outer.group, outer.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                self._pending.append(s)

    def collect(self) -> None:
        """Attach the Spark jobs of every span closed since the last call.
        Run it between ops: its own time is tracing overhead, kept out of
        the op's span and accumulated in ``bookkeeping_s``."""
        if not self.enabled or not self._pending:
            return
        t = time.perf_counter()
        self.status.settle()
        for s in self._pending:
            s.jobs = self.status.jobs(s.group)
        self._pending = []
        self.bookkeeping_s += time.perf_counter() - t

    def self_time(self, idx: int) -> float:
        s = self.spans[idx]
        kids = [(c.start, c.end) for c in self.spans if c.parent == idx]
        kids += [(j["start"], j["end"]) for j in s.jobs
                 if j["start"] is not None and j["end"] is not None]
        return s.duration - _covered(kids, s.start, s.end)

    def _subtree_jobs(self, idx: int) -> list[dict]:
        jobs, todo = [], [idx]
        while todo:
            i = todo.pop()
            jobs += self.spans[i].jobs
            todo += [c for c, s in enumerate(self.spans) if s.parent == i]
        return jobs

    def driver_time(self, idx: int) -> float:
        """Span duration not covered by any Spark job of it or its
        descendants: the driver-side part of the call."""
        s = self.spans[idx]
        jobs = [(j["start"], j["end"]) for j in self._subtree_jobs(idx)
                if j["start"] is not None and j["end"] is not None]
        return s.duration - _covered(jobs, s.start, s.end)

    def totals(self, idx: int) -> dict:
        """Counters of span ``idx`` including its descendants' jobs."""
        keys = ("stages", "tasks", "executor_cpu_s", "shuffle_write_bytes",
                "spill_bytes")
        jobs = self._subtree_jobs(idx)
        return {"jobs": len(jobs), **{k: sum(j[k] for j in jobs) for k in keys}}

    def by_name(self, name: str) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.name == name]

    def dump(self) -> list[dict]:
        out = []
        for i, s in enumerate(self.spans):
            out.append({"id": i, "name": s.name, "op_id": s.op_id,
                        "parent": s.parent, "start": s.start, "end": s.end,
                        "self_s": self.self_time(i) if self.enabled else None})
            for j in s.jobs:
                out.append({"id": f"{i}.job{j['job_id']}", "name": "spark.job",
                            "op_id": s.op_id, "parent": i, **j})
        return out
