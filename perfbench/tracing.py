"""Benchmark-side recorder for calls into the engine.

Every engine call the benchmark makes goes through :meth:`Recorder.call`,
which times it with ``perf_counter``.  The benchmark's own steps (set-up,
the query streams, the checks, ingest) go through :meth:`Recorder.step`
and are the parents of the calls made inside them.  In a traced run the
recorder also

* keeps a span per call and step (name, start, end, parent, operation
  id) in memory and writes them out once, when the run ends;
* runs each leaf call under its own Spark job group and afterwards reads
  the jobs, stages and tasks that group launched from
  ``SparkContext.statusTracker()``;
* times its own bookkeeping.

The timed interval of a call never contains bookkeeping.  Nothing here
reaches inside the engine: spans sit at the benchmark's call sites only.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Call:
    """What one recorded call cost; filled in when the call returns."""

    seconds: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0


@dataclass
class Span:
    name: str
    op: str
    parent: int
    start: float
    end: float = 0.0
    children_s: float = field(default=0.0, repr=False)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Recorder:
    def __init__(self, traced: bool):
        self.sc = None  # set once the session exists
        self.traced = traced
        self.spans: list[Span] = []
        self.bookkeeping_s: list[float] = []
        self.step_s: dict[str, float] = {}
        self._stack: list[int] = []
        self._groups = 0
        self._t0 = time.perf_counter()

    @contextmanager
    def step(self, name: str):
        """A benchmark step: a ``bench.<name>`` span around the calls made
        inside it, whose self time is the benchmark's own work.  Wall
        time per step name adds up in ``step_s``."""
        with self.call(f"bench.{name}", jobs=False) as rec:
            yield rec
        self.step_s[name] = self.step_s.get(name, 0.0) + rec.seconds

    @contextmanager
    def call(self, name: str, op: str = "", jobs: bool = True):
        """Time the body as one call named ``<layer>.<what>``.  ``jobs``
        marks a leaf call into the engine (counted under a job group)."""
        rec = Call()
        if not self.traced:
            t0 = time.perf_counter()
            yield rec
            rec.seconds = time.perf_counter() - t0
            return
        b0 = time.perf_counter()
        group = None
        if jobs:
            self._groups += 1
            group = f"perfbench-{self._groups}"
            self.sc.setJobGroup(group, name)
        parent = self._stack[-1] if self._stack else -1
        span = Span(name, op, parent, 0.0)
        self._stack.append(len(self.spans))
        self.spans.append(span)
        book = time.perf_counter() - b0
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            rec.seconds = t1 - t0
            b1 = time.perf_counter()
            span.start, span.end = t0 - self._t0, t1 - self._t0
            self._stack.pop()
            if group is not None:
                self._count_jobs(group, rec)
            b2 = time.perf_counter()
            self.bookkeeping_s.append(book + b2 - b1)
            if parent >= 0:
                # the parent's self time excludes this call's bookkeeping
                self.spans[parent].children_s += b2 - b0

    def _count_jobs(self, group: str, rec: Call) -> None:
        # the status store is fed asynchronously by the listener bus:
        # drain it so the group's finished jobs and tasks are all visible
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        tracker = self.sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            rec.jobs += 1
            for stage_id in info.stageIds:
                stage = tracker.getStageInfo(stage_id)
                # stages whose shuffle output was reused never run a task
                if stage is not None and stage.numCompletedTasks > 0:
                    rec.stages += 1
                    rec.tasks += stage.numCompletedTasks

    def self_seconds(self) -> dict[str, float]:
        """Self time per layer: each span's duration minus the time its
        child spans and their bookkeeping cover (children run one after
        another on this thread, so their durations add up)."""
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s.end - s.start) - s.children_s
            out[s.layer] = out.get(s.layer, 0.0) + own
        return out

    def write(self, path) -> None:
        with open(path, "w") as fh:
            json.dump(
                [
                    {"id": i, "name": s.name, "op": s.op, "parent": s.parent,
                     "start": s.start, "end": s.end}
                    for i, s in enumerate(self.spans)
                ],
                fh,
            )
