"""Tracing for the benchmark's traced runs: spans held in memory and
counters read from Spark at the same boundaries.

Everything here is measured from outside the package: spans wrap the
benchmark's own calls into each layer, and counters come from Spark's
in-process status store (jobs, stages, task metrics) and from
``StreamingQueryProgress``. No UI or HTTP endpoint is used.
"""

from __future__ import annotations

import contextlib
import statistics
import threading
import time
from dataclasses import dataclass, field


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str


class Tracer:
    """Spans of one benchmark process. ``enabled=False`` makes every
    call a no-op, so untraced runs pay nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.run_id = "setup"
        self._stack: list[str] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.record(name, start, time.perf_counter(), parent)

    def record(self, name: str, start: float, end: float, parent: str | None) -> None:
        with self._lock:
            self.spans.append(Span(name, start, end, parent, self.run_id))

    def current(self) -> str | None:
        """Innermost open span of the benchmark's main thread (the
        parent for spans recorded on Spark's callback threads)."""
        return self._stack[-1] if self._stack else None


def wrap_call(tracer: Tracer, cls: type, name: str) -> None:
    """Record a span around every ``cls.__call__`` (a layer with no
    seam in the benchmark's code, such as a ``foreachBatch`` sink that
    Spark calls back)."""
    inner = cls.__call__

    def traced(self, *args, **kwargs):
        start = time.perf_counter()
        try:
            return inner(self, *args, **kwargs)
        finally:
            tracer.record(name, start, time.perf_counter(), tracer.current())

    cls.__call__ = traced


@dataclass
class ExecCounts:
    """Spark work done by the jobs of one span."""

    jobs: int = 0
    job_s: float = 0.0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    stage_ids: set = field(default_factory=set)


class JobCounter:
    """Counts the Spark jobs launched between two points of a closed
    loop. Job ids are dense and increasing, so the jobs of a span are
    the ids first seen after it ends."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._tracker = self._sc.statusTracker()
        self._next_job = 0
        self.take()

    def take(self) -> ExecCounts:
        """Counts for the jobs launched since the previous call."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        out = ExecCounts()
        while (info := self._tracker.getJobInfo(self._next_job)) is not None:
            job = store.job(self._next_job)
            submitted, completed = job.submissionTime(), job.completionTime()
            if submitted.isDefined() and completed.isDefined():
                out.job_s += (completed.get().getTime() - submitted.get().getTime()) / 1e3
            out.jobs += 1
            out.stage_ids.update(int(s) for s in info.stageIds)
            self._next_job += 1
        for sid in sorted(out.stage_ids):
            stage = store.lastStageAttempt(sid)
            if str(stage.status()) == "SKIPPED":
                continue
            out.stages += 1
            out.tasks += stage.numTasks()
            out.failed_tasks += stage.numFailedTasks()
            out.executor_run_s += stage.executorRunTime() / 1e3
            out.executor_cpu_s += stage.executorCpuTime() / 1e9
            out.input_bytes += stage.inputBytes()
            out.shuffle_write_bytes += stage.shuffleWriteBytes()
            out.shuffle_read_bytes += stage.shuffleReadBytes()
            out.spill_bytes += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
        return out


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the Spark driver JVM, in MiB."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0
