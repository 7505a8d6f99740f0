"""Spans around calls into the program's layers, and the Spark task
figures of the jobs each span issued.

A span records (name, start, end).  Entering a span also sets the
Spark job group to ``kgbench:<name>`` on the active SparkContext, so every
job the layer launches -- including broadcast and subquery jobs, which
inherit the caller's local properties -- can be attributed to the
innermost span afterwards from Spark's status store.

Spans are kept in memory and turned into metrics when the traced
iteration ends; ``covered`` gives the part of an interval that a set of
spans covers (each moment counted once however the spans nest).
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass

GROUP_PREFIX = "kgbench:"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total = 0.0
    cur_lo = cur_hi = None
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


class Tracer:
    """Nested spans on one thread.  ``clock`` is wall-clock seconds so
    span boundaries line up with Spark's job submission/completion times."""

    def __init__(self, clock=time.time):
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        self.spans.append(Span(name, self.clock()))
        self._stack.append(idx)
        _set_group(name)
        try:
            yield self.spans[idx]
        finally:
            self.spans[idx].end = self.clock()
            self._stack.pop()
            _set_group(self.current)

    def total(self, name: str) -> float:
        return sum(s.duration for s in self.spans if s.name == name)

    @property
    def current(self) -> str | None:
        """Name of the innermost open span."""
        return self.spans[self._stack[-1]].name if self._stack else None

    def wrap(self, fn, name: str):
        """`fn` with every call inside a span called `name`."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced


def _set_group(name: str | None) -> None:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return
    if name is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    else:
        sc.setJobGroup(GROUP_PREFIX + name, name)


# ------------------------------------------------------------- status store


@dataclass
class JobRecord:
    job_id: int
    group: str | None
    submitted: float
    completed: float
    stage_ids: list[int]


@dataclass
class StageRecord:
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def _jobs(sc):
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    return conv, jsc.statusStore(), list(conv.asJava(jsc.statusStore().jobsList(None)))


def read_status_store(sc, min_job_id: int = 0) -> tuple[list[JobRecord], dict[int, StageRecord]]:
    """Jobs with id >= min_job_id and the metrics of their stages, from the
    SparkContext's live status store (kept with the UI disabled too)."""
    conv, store, all_jobs = _jobs(sc)
    jobs = []
    for j in all_jobs:
        if j.jobId() < min_job_id:
            continue
        group = j.jobGroup().get() if j.jobGroup().isDefined() else None
        sub = j.submissionTime().get().getTime() / 1000 if j.submissionTime().isDefined() else 0.0
        done = j.completionTime().get().getTime() / 1000 if j.completionTime().isDefined() else sub
        jobs.append(JobRecord(j.jobId(), group, sub, done, list(conv.asJava(j.stageIds()))))
    stages: dict[int, StageRecord] = {}
    for sid in sorted({s for j in jobs for s in j.stage_ids}):
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - py4j error: stage never ran (skipped)
            continue
        rec = stages.setdefault(sid, StageRecord())
        rec.tasks += st.numCompleteTasks()
        rec.run_s += st.executorRunTime() / 1e3
        rec.cpu_s += st.executorCpuTime() / 1e9
        rec.gc_s += st.jvmGcTime() / 1e3
        rec.shuffle_write_bytes += st.shuffleWriteBytes()
        rec.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return sorted(jobs, key=lambda j: j.job_id), stages


def last_job_id(sc) -> int:
    """Highest job id the status store has seen so far (-1 if none)."""
    return max((j.jobId() for j in _jobs(sc)[2]), default=-1)


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def add(self, job: JobRecord, stages: dict[int, StageRecord]) -> None:
        self.jobs += 1
        for sid in job.stage_ids:
            st = stages.get(sid)
            if st is None or st.tasks == 0:
                continue  # skipped stage: its output came from an earlier job
            self.stages += 1
            self.tasks += st.tasks
            self.run_s += st.run_s
            self.cpu_s += st.cpu_s
            self.gc_s += st.gc_s
            self.shuffle_write_bytes += st.shuffle_write_bytes
            self.spill_bytes += st.spill_bytes


def by_group(jobs: list[JobRecord], stages: dict[int, StageRecord]) -> dict[str, GroupStats]:
    """Task figures per span name (jobs outside any kgbench group are
    filed under '')."""
    out: dict[str, GroupStats] = {}
    for j in jobs:
        name = j.group[len(GROUP_PREFIX):] if j.group and j.group.startswith(GROUP_PREFIX) else ""
        out.setdefault(name, GroupStats()).add(j, stages)
    return out


def cached_storage(sc) -> tuple[int, int]:
    """(bytes, entries) the block manager still holds for persisted RDDs
    and cached DataFrames."""
    infos = list(sc._jsc.sc().getRDDStorageInfo())
    entries = sc._jsc.getPersistentRDDs().size()
    return sum(i.memSize() + i.diskSize() for i in infos), int(entries)


def clear_cached(spark) -> None:
    """Drop every cached DataFrame and persisted RDD, so the next iteration
    cannot read this one's cache."""
    spark.catalog.clearCache()
    sc = spark.sparkContext
    for rdd in list(sc._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
