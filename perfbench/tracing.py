"""Per-layer tracing for the ``--trace 1`` run.

A span is opened around each call into a layer's public function.  It
labels the Spark jobs it triggers with a job group, and after the
operation the tracer reads those jobs' stages back from the JVM
``SparkContext`` status store (present with the UI disabled, so nothing
touches the network): shuffle bytes, spill, task times, and each job's
call site.  Row counts come from ``DataFrame.observe``.

Spans live in memory; the workload turns them into per-layer metrics
when the run ends.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    group: str
    start: float
    end: float = 0.0
    parent: str | None = None
    epoch_start_ms: float = field(default_factory=lambda: time.time() * 1000)
    epoch_end_ms: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class StageStats:
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    task_skew: float = 0.0  # max / median task run time of the heaviest stage
    jobs: int = 0
    stages: int = 0
    job_intervals: list = field(default_factory=list)  # (start_ms, end_ms)
    call_sites: list = field(default_factory=list)


class Tracer:
    """Job-group spans plus a status-store harvest.  A disabled tracer
    opens no groups and records nothing, so the untraced run pays only
    for a context manager per call."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._seq = 0
        self._stack: list[Span] = []

    # -- spans -----------------------------------------------------------
    def _set_group(self, group: str | None, name: str = "") -> None:
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group, name)

    @contextmanager
    def span(self, name: str):
        sp = self.begin(name)
        try:
            yield sp
        finally:
            self.end(sp)

    def begin(self, name: str) -> Span | None:
        """Open a span nested in the innermost open one.  ``span`` wraps
        this pair; spans that start and stop in different callbacks, such
        as a wave, call it directly and close with ``end``."""
        if not self.enabled:
            return None
        self._seq += 1
        parent = self._stack[-1].group if self._stack else None
        sp = Span(name, f"{name}#{self._seq}", time.perf_counter(), parent=parent)
        self._stack.append(sp)
        self._set_group(sp.group, name)
        return sp

    def end(self, sp: Span | None) -> None:
        if sp is None:
            return
        sp.end = time.perf_counter()
        sp.epoch_end_ms = time.time() * 1000
        self._stack.remove(sp)
        if self._stack:
            self._set_group(self._stack[-1].group, self._stack[-1].name)
        else:
            self._set_group(None)
        self.spans.append(sp)

    # -- status store ----------------------------------------------------
    def _store(self):
        return self.spark.sparkContext._jsc.sc().statusStore()

    def job_ids(self, groups) -> list[int]:
        tracker = self.spark.sparkContext.statusTracker()
        out: list[int] = []
        for g in groups:
            out.extend(tracker.getJobIdsForGroup(g))
        return sorted(set(out))

    def stage_stats(self, groups) -> StageStats:
        """Sum the stages every job in ``groups`` ran.  A stage a job lists
        but did not run (its shuffle output came from an earlier job) was
        submitted before that job and is not counted again."""
        store = self._store()
        out = StageStats()
        heaviest = (-1, 0.0)  # (executor run time, skew)
        counted: set[int] = set()
        for jid in self.job_ids(groups):
            job = store.job(jid)
            out.jobs += 1
            sub, done = job.submissionTime(), job.completionTime()
            job_start = sub.get().getTime() if sub.isDefined() else 0
            if sub.isDefined() and done.isDefined():
                out.job_intervals.append((job_start, done.get().getTime()))
            out.call_sites.append(job.name())
            it = job.stageIds().iterator()
            while it.hasNext():
                sid = int(it.next())
                if sid in counted:
                    continue
                attempts = store.stageData(sid, False, None, False, None)
                if attempts.isEmpty():
                    continue
                st = attempts.apply(0)
                st_sub = st.submissionTime()
                if st.numCompleteTasks() == 0 or not st_sub.isDefined() \
                        or st_sub.get().getTime() < job_start:
                    continue  # skipped in this job
                counted.add(sid)
                out.stages += 1
                out.shuffle_read_bytes += st.shuffleReadBytes()
                out.shuffle_write_bytes += st.shuffleWriteBytes()
                out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
                run = st.executorRunTime()
                if run > heaviest[0] and st.numTasks() > 1:
                    heaviest = (run, self._task_skew(store, sid, st.attemptId(), st.numTasks()))
        out.task_skew = heaviest[1]
        return out

    @staticmethod
    def _task_skew(store, sid: int, attempt: int, n: int) -> float:
        tasks = store.taskList(sid, attempt, n)
        times = []
        it = tasks.iterator()
        while it.hasNext():
            m = it.next().taskMetrics()
            if m.isDefined():
                times.append(m.get().executorRunTime())
        if len(times) < 2:
            return 0.0
        times.sort()
        mid = times[len(times) // 2]
        return times[-1] / mid if mid > 0 else float(times[-1] > 0)


def covered_seconds(intervals, lo_ms: float, hi_ms: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo_ms, hi_ms]``."""
    clipped = sorted((max(a, lo_ms), min(b, hi_ms)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
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
    return total / 1000.0


def dir_bytes_files(paths) -> tuple[int, int]:
    """Bytes and data files (``part-*``) under ``paths``."""
    size = files = 0
    for root in paths:
        for dirpath, _, names in os.walk(root):
            for n in names:
                if n.startswith("part-"):
                    files += 1
                    size += os.path.getsize(os.path.join(dirpath, n))
    return size, files
