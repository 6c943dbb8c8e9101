"""Spans and Spark job counts, recorded from the benchmark's side of each
layer call.  Nothing inside the engine is instrumented: a span wraps a
call into a layer's public function, and each span that names a Spark
session runs its work in its own job group, so StatusTracker can count
the jobs, stages and tasks that call caused."""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    span_id: int
    group: str | None = None
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory.  A disabled tracer records nothing and sets
    no job group, so an untraced run pays only the context manager."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, spark=None):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        sc = spark.sparkContext if spark is not None else None
        group = f"perfbench-{sid}" if sc is not None else None
        sp = Span(name, 0.0, 0.0,
                  self._stack[-1].span_id if self._stack else None, sid,
                  group)
        if sc is not None:
            sc.setJobGroup(group, name)
        self._stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                # hand the enclosing span's group back (or none)
                outer = next((s.group for s in reversed(self._stack)
                              if s.group), None)
                if outer:
                    sc.setJobGroup(outer, "")
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(sp)

    def resolve_counts(self, spark, settle_s: float = 1.0) -> None:
        """Read every span's job/stage/task counts from StatusTracker.
        Done once at the end: the listener bus updates the status store
        asynchronously, so counts read right after a job can be short."""
        if not self.enabled:
            return
        time.sleep(settle_s)
        sc = spark.sparkContext
        for sp in self.spans:
            if sp.group:
                sp.counts = job_counts(sc, sp.group)

    def summary(self) -> list[tuple[str, int, float, float]]:
        """(name, count, total s, self s) per span name; self time is a
        span's duration minus what its child spans cover."""
        child: dict[int, float] = {}
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] = child.get(sp.parent, 0.0) + sp.seconds
        rows: dict[str, list] = {}
        for sp in self.spans:
            r = rows.setdefault(sp.name, [0, 0.0, 0.0])
            r[0] += 1
            r[1] += sp.seconds
            r[2] += sp.seconds - child.get(sp.span_id, 0.0)
        return [(k, *v) for k, v in sorted(rows.items())]

    def seconds(self, name: str) -> list[float]:
        return [s.seconds for s in self.spans if s.name == name]

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def job_counts(sc, group: str) -> dict:
    """Jobs, stages that ran and tasks that completed for a job group.
    A stage a job skipped (its shuffle output reused) completes no task
    and counts for nothing."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is None or si.numCompletedTasks == 0:
                continue
            stages += 1
            tasks += si.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}
