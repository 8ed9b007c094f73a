"""Span recording and Spark status reads for the traced run.

A :class:`Tracer` keeps spans (name, start, end, parent, operation id) in
memory and writes them out once at the end. Spark-side numbers (jobs,
tasks, shuffle and spill bytes) are read from the public status tracker and
the application status store after an operation's clock has stopped, so
they add nothing to the timed window. The untraced run uses
:data:`NO_TRACE`, whose methods do nothing.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    op: str | None


@dataclass
class StageTotals:
    jobs: int = 0
    tasks: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class Tracer:
    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    _stack: list[str] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append(Span(name, start, end, parent, op))

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    @contextlib.contextmanager
    def job_group(self, spark, group: str):
        """Tag the Spark jobs started inside the block with ``group``."""
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def stage_totals(self, spark, group: str) -> StageTotals:
        """Jobs, tasks, shuffle and spill bytes of the jobs tagged ``group``."""
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        totals = StageTotals()
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            totals.jobs += 1
            for stage_id in info.stageIds:
                try:
                    stage = store.lastStageAttempt(stage_id)
                except Py4JJavaError:  # a skipped stage has no attempt
                    continue
                totals.tasks += stage.numCompleteTasks()
                totals.shuffle_read_bytes += stage.shuffleReadBytes()
                totals.spill_bytes += (
                    stage.memoryBytesSpilled() + stage.diskBytesSpilled()
                )
        return totals

    def dump(self, path: str) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "name": s.name,
                            "start": round(s.start - t0, 6),
                            "end": round(s.end - t0, 6),
                            "parent": s.parent,
                            "op": s.op,
                        }
                    )
                    + "\n"
                )


class _NoTrace(Tracer):
    @contextlib.contextmanager
    def span(self, name, op=None):
        yield

    @contextlib.contextmanager
    def job_group(self, spark, group):
        yield


NO_TRACE = _NoTrace(enabled=False)
