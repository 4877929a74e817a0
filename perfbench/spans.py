"""Layer spans for the traced run.

A span records its layer name, start, end, parent span and the id of the
workload iteration it belongs to. Each span runs its Spark work inside its
own job group (the ``tools/profile_query.py`` pattern), so the jobs,
tasks, shuffle and spill bytes and executor time of a span are read per
group from Spark's status tracker and status store when the span closes.
Job groups are exclusive: work started by a child span is counted in the
child, never in the parent. Spans are kept in memory and summarized when
the run ends.

Spark is lazy, so ``Tracer.call`` forces a layer's DataFrame outputs
(persist + count) inside the layer's span; the cached relations are
released after the iteration. ``Tracer.patched`` reaches the layers a
composite calls internally: while it is active, a module attribute the
composite looks up is replaced by a traced wrapper. A streaming query runs
its jobs in a job group of its own (its run id); ``adopt_group`` counts
that group in the current span. ``NullTracer`` is the untraced run: it
calls straight through and records nothing.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


@dataclass
class Span:
    span_id: int
    parent: int | None
    layer: str
    iteration: int
    start: float
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    rows: int = 0
    children: list[int] = field(default_factory=list)
    groups: list[str] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


class NullTracer:
    """Untraced run: no spans, no forcing, no job groups."""

    enabled = False

    def call(self, layer, fn, *args, **kwargs):
        return fn(*args, **kwargs)

    @contextmanager
    def span(self, layer):
        yield

    @contextmanager
    def patched(self, module, attr, layer=None, wrapper=None):
        yield

    def adopt_group(self, group: str) -> None:
        pass

    def begin_iteration(self, iteration: int) -> None:
        pass

    def end_iteration(self) -> None:
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._forced: list[DataFrame] = []
        self.iteration = -1

    def begin_iteration(self, iteration: int) -> None:
        self.iteration = iteration

    def end_iteration(self) -> None:
        for df in self._forced:
            df.unpersist()
        self._forced.clear()

    @contextmanager
    def span(self, layer: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            next(self._ids), parent.span_id if parent else None, layer, self.iteration,
            time.perf_counter(),
        )
        if parent is not None:
            parent.children.append(sp.span_id)
        group = f"{self.run_id}:{sp.span_id}:{layer}"
        sp.groups.append(group)
        self.sc.setJobGroup(group, layer)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._harvest(sp)
            if parent is not None:
                self.sc.setJobGroup(f"{self.run_id}:{parent.span_id}:{parent.layer}", parent.layer)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setJobDescription(None)
            self.spans.append(sp)

    def call(self, layer, fn, *args, **kwargs):
        """Run ``fn`` as one call into ``layer`` and force its DataFrame
        outputs inside the span."""
        with self.span(layer) as sp:
            out = fn(*args, **kwargs)
            for df in _dataframes(out):
                df.persist()
                sp.rows += df.count()
                self._forced.append(df)
        return out

    @contextmanager
    def patched(self, module, attr, layer=None, wrapper=None):
        """Replace ``module.attr`` by ``wrapper``, or by a traced call into
        ``layer``, until the block ends."""
        original = getattr(module, attr)
        setattr(module, attr, wrapper or (lambda *a, **kw: self.call(layer, original, *a, **kw)))
        try:
            yield
        finally:
            setattr(module, attr, original)

    def adopt_group(self, group: str) -> None:
        self._stack[-1].groups.append(group)

    def _harvest(self, sp: Span) -> None:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        job_ids = [j for g in sp.groups for j in tracker.getJobIdsForGroup(g) or []]
        for job_id in job_ids:
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            sp.jobs += 1
            for stage_id in info.stageIds:
                sd = store.lastStageAttempt(int(stage_id))
                if sd.status().toString() == "SKIPPED":
                    continue
                sp.tasks += sd.numTasks()
                sp.failed_tasks += sd.numFailedTasks()
                sp.run_ms += sd.executorRunTime()
                sp.shuffle_bytes += sd.shuffleWriteBytes()
                sp.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()


def _dataframes(out):
    if isinstance(out, DataFrame):
        return [out]
    if isinstance(out, dict):
        return [v for v in out.values() if isinstance(v, DataFrame)]
    if isinstance(out, (tuple, list)):
        return [v for v in out if isinstance(v, DataFrame)]
    return []


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover (children
    run sequentially inside the parent, so their durations add up)."""
    by_id = {s.span_id: s for s in spans}
    return {
        s.span_id: s.duration - sum(by_id[c].duration for c in s.children if c in by_id)
        for s in spans
    }
