"""Spans around the benchmark's calls into the library's layers.

A span has a name, start, end, parent span and run id. While tracing is on,
each span runs its Spark work under its own job group, so the status
tracker attributes jobs, stages and tasks to it. Spans stay in memory and
are written out once, at the end of the run, with their self time: the
span's duration minus the part of it its child spans cover.

With tracing off a span only reads the clock, so the timed code paths
are the same in both modes.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    traced: bool = False
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; ``enabled`` turns Spark job attribution on or off."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        # wall time spent in the tracer's own Spark calls
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            name=name,
            parent=parent.id if parent else None,
            run_id=self.run_id,
            start=0.0,
            traced=self.enabled,
            attrs=attrs,
        )
        self.spans.append(s)
        self._stack.append(s)
        if s.traced:
            self._set_group(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if s.traced:
                self._count(s)
                self._set_group(parent if parent and parent.traced else None)

    def record(self, name: str, start: float, end: float) -> Span:
        """A span for work already done, such as the session start that
        precedes the tracer."""
        s = Span(id=len(self.spans), name=name, parent=None, run_id=self.run_id,
                 start=start, end=end)
        self.spans.append(s)
        return s

    def _group(self, s: Span) -> str:
        return f"{self.run_id}:{s.id}"

    def _set_group(self, s: Span | None) -> None:
        t = time.perf_counter()
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self._group(s), s.name)
        self.bookkeeping_s += time.perf_counter() - t

    def _count(self, s: Span) -> None:
        t = time.perf_counter()
        st = self.sc.statusTracker()
        for job_id in st.getJobIdsForGroup(self._group(s)):
            s.jobs += 1
            info = st.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                s.stages += 1
                stage = st.getStageInfo(stage_id)
                s.tasks += stage.numTasks if stage else 0
        self.bookkeeping_s += time.perf_counter() - t

    def self_seconds(self) -> dict[int, float]:
        child = {s.id: 0.0 for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.seconds
        return {s.id: s.seconds - child[s.id] for s in self.spans}

    def write(self, path: str, meta: dict) -> None:
        own = self.self_seconds()
        rows = [dict(asdict(s), seconds=s.seconds, self_seconds=own[s.id]) for s in self.spans]
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"meta": meta, "spans": rows}, fh, indent=1)
