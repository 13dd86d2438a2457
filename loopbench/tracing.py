"""Spans around the benchmark's calls into the library, and the Spark
status-store harvest that splits each call into jobs, stages and tasks.

Nothing here runs inside the library: a span is opened by the benchmark
around one public call, and the call's Spark jobs are found afterwards
by the job group the span set.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field, fields


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    run_id: str = ""
    group: str | None = None

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class NullTracer:
    """Tracing off: layer calls run bare, nothing is recorded."""

    enabled = False

    @contextlib.contextmanager
    def layer(self, name: str):
        yield

    def begin_iteration(self, run_id: str) -> None:
        pass

    def end_iteration(self) -> list[Span]:
        return []


class Tracer:
    """Records one span per layer call and tags the call's Spark jobs
    with a job group named after the span. Spans stay in memory until
    the caller writes them out."""

    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._iter: Span | None = None
        self._current: list[Span] = []

    def begin_iteration(self, run_id: str) -> None:
        self._iter = Span("iteration", time.time(), run_id=run_id)
        self._current = []

    def end_iteration(self) -> list[Span]:
        self._iter.end = time.time()
        self.spans.append(self._iter)
        self.spans.extend(self._current)
        return self._current

    @contextlib.contextmanager
    def layer(self, name: str):
        run_id = self._iter.run_id
        group = f"{run_id}/{name}"
        span = Span(name, 0.0, parent="iteration", run_id=run_id, group=group)
        self.sc.setJobGroup(group, name)
        span.start = time.time()
        try:
            yield
        finally:
            span.end = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._current.append(span)


# ------------------------------------------------------------ status store


@dataclass
class GroupStats:
    """Spark work done under one job group, from the status store."""

    jobs: int = 0
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    tasks: int = 0
    failed_tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_mb: float = 0.0
    output_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    # per-task run seconds of the stage with the most task time
    heaviest_stage_tasks_s: list[float] = field(default_factory=list)

    def plus(self, other: "GroupStats") -> "GroupStats":
        """Field-wise sum; lists concatenate."""
        return GroupStats(**{f.name: getattr(self, f.name) + getattr(other, f.name) for f in fields(self)})


def covered_s(intervals: list[tuple[float, float]]) -> float:
    """Seconds covered by the union of ``intervals``."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


_MB = 2**20


def _seq(sc, seq) -> list:
    return list(sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def group_stats(sc, group: str, with_tasks: bool = False) -> GroupStats:
    """Harvest every job Spark ran under ``group``.

    Job intervals are wall-clock seconds since the epoch (the status
    store's millisecond dates). ``with_tasks`` also reads the per-task
    run times of the group's heaviest stage."""
    store = sc._jsc.sc().statusStore()
    out = GroupStats()
    stage_ids: set[int] = set()
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(job_id)
        out.jobs += 1
        start, end = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
        if start is not None and end is not None:
            out.job_intervals.append((start, end))
        stage_ids.update(_seq(sc, job.stageIds()))
    heaviest = (0, None)
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # py4j wraps NoSuchElementException: stage evicted or never ran
            continue
        if str(st.status()) == "SKIPPED":
            continue
        run_ms = st.executorRunTime()
        out.tasks += st.numTasks()
        out.failed_tasks += st.numFailedTasks()
        out.task_run_s += run_ms / 1000.0
        out.task_cpu_s += st.executorCpuTime() / 1e9
        out.gc_s += st.jvmGcTime() / 1000.0
        out.input_mb += st.inputBytes() / _MB
        out.output_mb += st.outputBytes() / _MB
        out.shuffle_read_mb += st.shuffleReadBytes() / _MB
        out.shuffle_write_mb += st.shuffleWriteBytes() / _MB
        out.spill_mb += st.diskBytesSpilled() / _MB
        if run_ms > heaviest[0]:
            heaviest = (run_ms, st)
    if with_tasks and heaviest[1] is not None:
        st = heaviest[1]
        for task in _seq(sc, store.taskList(st.stageId(), st.attemptId(), 1 << 20)):
            metrics = task.taskMetrics()
            if metrics.isDefined():
                out.heaviest_stage_tasks_s.append(metrics.get().executorRunTime() / 1000.0)
    return out
