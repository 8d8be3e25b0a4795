"""Timing of the engine's public calls, with optional spans.

Every timed call goes through :meth:`Tracer.call`. Untraced, it only
reads the clock. Traced, it also records a span (name, start, end,
parent) and the Spark jobs and tasks the call launched, found through
a per-call job group and the status tracker. Spans stay in memory and
are written out once, at the end of the run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "jobs", "tasks")

    def __init__(self, sid: int, name: str, parent: int | None):
        self.id, self.name, self.parent = sid, name, parent
        self.start = self.end = 0.0
        self.jobs = self.tasks = 0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def call(self, name: str):
        """Time the enclosed call; yields the span (untraced: a span
        that is not kept, with only its start and end set)."""
        if not self.enabled:
            s = Span(-1, name, None)
            s.start = time.perf_counter()
            try:
                yield s
            finally:
                s.end = time.perf_counter()
            return
        sc = self.spark.sparkContext
        s = Span(len(self.spans), name, self._stack[-1] if self._stack else None)
        self.spans.append(s)
        group = f"perfbench-{s.id}"
        sc.setJobGroup(group, name)
        self._stack.append(s.id)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            st = sc.statusTracker()
            for job in st.getJobIdsForGroup(group):
                info = st.getJobInfo(job)
                s.jobs += 1
                for stage in info.stageIds if info else ():
                    stage_info = st.getStageInfo(stage)
                    if stage_info:
                        s.tasks += stage_info.numCompletedTasks
            if self._stack:
                parent = self.spans[self._stack[-1]]
                parent.jobs += s.jobs
                parent.tasks += s.tasks
                sc.setJobGroup(f"perfbench-{parent.id}", "")
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {
                        "id": s.id,
                        "name": s.name,
                        "parent": s.parent,
                        "start": s.start,
                        "end": s.end,
                        "jobs": s.jobs,
                        "tasks": s.tasks,
                    }
                    for s in self.spans
                ],
                f,
            )
