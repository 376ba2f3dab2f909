"""Layer spans and per-op Spark counters for the traced run.

Spans are recorded by the benchmark around its calls into the
program's public functions; nothing inside the program is changed.
Every op of a traced run gets its own Spark job group, and after the
op the jobs of that group are read back from the application status
store (which Spark keeps even with ``spark.ui.enabled=false``). All of
it stays in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import time
from collections import defaultdict


class Tracer:
    """Collects spans (name, start, end, op) and named counts for the
    op currently open; the op index ties a span to the request that
    caused it. ``enabled=False`` keeps the same call sites but records
    nothing, so untraced ops pay only the call."""

    def __init__(self) -> None:
        self.enabled = False
        self.op_id: int | None = None
        self.spans: list[tuple[str, float, float, int | None]] = []
        self.counts: dict[int | None, dict[str, float]] = defaultdict(dict)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.perf_counter(), self.op_id))

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            c = self.counts[self.op_id]
            c[name] = c.get(name, 0) + value


class SparkCounters:
    """Reads, for one job group, what Spark did: jobs, the stages that
    ran, their tasks, executor run time, input, shuffle-write and spill
    bytes, failed tasks, and the wall intervals during which any of
    the group's jobs ran."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group, False)

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def read(self, group: str) -> dict:
        # job and stage end events reach the status store through the
        # asynchronous listener bus: drain it before reading
        self._jsc.listenerBus().waitUntilEmpty()
        jobs = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "failed_tasks", "busy_s", "input_bytes",
             "shuffle_write_bytes", "spill_bytes"),
            0,
        )
        intervals = []
        seen: set[int] = set()
        for jid in jobs:
            job = self._store.job(jid)
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            for sid in self.sc.statusTracker().getJobInfo(jid).stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                st = self._store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["busy_s"] += st.executorRunTime() / 1e3
                out["input_bytes"] += st.inputBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out["job_intervals"] = intervals
        return out


def busy_union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by at least one interval."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total

