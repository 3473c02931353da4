"""Spans and Spark job counts recorded at the benchmark's calls into
the engine's layers.

Spans are kept in memory and written out once, when the run ends. A
disabled tracer records nothing, so untraced runs pay only for the
context-manager call.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    op: int | None        # spans of one op share its id
    name: str
    start: float
    end: float

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[tuple[int, int | None]] = field(default_factory=list)
    _next_id: int = 0

    @contextmanager
    def span(self, name: str, op: int | None = None):
        """Record `name` around the block. A span without an op id
        takes the one of the span enclosing it."""
        if not self.enabled:
            yield
            return
        sid, self._next_id = self._next_id, self._next_id + 1
        parent, parent_op = self._stack[-1] if self._stack else (None, None)
        op = parent_op if op is None else op
        self._stack.append((sid, op))
        start = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(Span(sid, parent, op, name, start,
                                   time.perf_counter()))

    def durations(self, name: str) -> list[float]:
        return [s.dur for s in self.spans if s.name == name]

    def per_op(self, *names: str) -> dict[int, float]:
        """Time in spans named `names`, summed per op."""
        out: dict[int, float] = {}
        for s in self.spans:
            if s.name in names and s.op is not None:
                out[s.op] = out.get(s.op, 0.0) + s.dur
        return out

    def write(self, path: str) -> None:
        """One JSON line per span, with its self time: its duration
        minus the time its direct children cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + s.dur
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps({
                    "id": s.id, "parent": s.parent, "op": s.op,
                    "name": s.name, "start": s.start, "end": s.end,
                    "self": s.dur - child.get(s.id, 0.0)}) + "\n")


def p50(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


@dataclass
class JobCounts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    def __iadd__(self, other: "JobCounts") -> "JobCounts":
        self.jobs += other.jobs
        self.stages += other.stages
        self.tasks += other.tasks
        self.failed_tasks += other.failed_tasks
        return self


def job_counts(sc, *groups: str) -> JobCounts:
    """Jobs, stages and tasks Spark ran under the given job groups, read
    from the status tracker after the groups' work has finished."""
    st = sc.statusTracker()
    c = JobCounts()
    for group in groups:
        for jid in st.getJobIdsForGroup(group):
            c.jobs += 1
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                stage = st.getStageInfo(sid)
                if stage is not None:
                    c.stages += 1
                    c.tasks += stage.numTasks
                    c.failed_tasks += stage.numFailedTasks
    return c
