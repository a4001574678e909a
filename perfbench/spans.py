"""In-memory spans for the traced run.

A span is recorded around a call into one layer of the program. The
benchmark opens one span per operation; the program's own layer entry
points are wrapped for the traced run only (`Tracer.wrap`), and restored
afterwards. Every span runs its Spark jobs under its own job group, so
the jobs a span triggered are read back from Spark's status store when
the run ends, from outside the program. Spans stay in memory until then.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# per-stage counters read from the status store (v1.StageData getters)
_STAGE_FIELDS = {
    "executor_run_s": lambda s: s.executorRunTime() / 1e3,
    "executor_cpu_s": lambda s: s.executorCpuTime() / 1e9,
    "input_records": lambda s: s.inputRecords(),
    "shuffle_bytes": lambda s: s.shuffleWriteBytes(),
    "spill_bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
}


@dataclass
class Span:
    layer: str
    group: str
    t0: float
    t1: float = 0.0
    children: list["Span"] = field(default_factory=list)
    # filled by Tracer.resolve: Spark work of this span's own job group
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        return self.dur - sum(c.dur for c in self.children)

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()


class Tracer:
    """Records a tree of spans per operation. Times are epoch seconds so
    they compare with the job times Spark records."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.ops: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self._n = 0
        self._paused = False

    @contextmanager
    def paused(self):
        """Calls made inside record no spans."""
        self._paused = True
        try:
            yield
        finally:
            self._paused = False

    @contextmanager
    def span(self, layer: str):
        if self._paused:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(layer, f"perfbench-{self._n}", time.time())
        self._n += 1
        self.sc.setJobGroup(s.group, layer)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()
            if parent is None:
                self.ops.append(s)
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                parent.children.append(s)
                self.sc.setJobGroup(parent.group, parent.layer)

    def wrap(self, owner, attr: str, layer: str) -> None:
        """Replace `owner.attr` with a spanned wrapper until `unwrap`."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            with tracer.span(layer):
                return orig(*args, **kwargs)

        setattr(owner, attr, spanned)
        self._patches.append((owner, attr, orig))

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def resolve(self) -> None:
        """Attach each span's Spark jobs, stages, tasks and counters,
        once every listener event of the run has been processed."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        seen: set[int] = set()  # a stage reused by a later job ran once
        for op in self.ops:
            for s in op.walk():
                for jid in tracker.getJobIdsForGroup(s.group):
                    job = store.job(jid)
                    s.jobs += 1
                    if job.submissionTime().isDefined() and job.completionTime().isDefined():
                        s.job_intervals.append(
                            (
                                job.submissionTime().get().getTime() / 1e3,
                                job.completionTime().get().getTime() / 1e3,
                            )
                        )
                    for sid in tracker.getJobInfo(jid).stageIds:
                        st = store.lastStageAttempt(sid)
                        if sid in seen or str(st.status()) != "COMPLETE":
                            continue
                        seen.add(sid)
                        s.stages += 1
                        s.tasks += st.numCompleteTasks()
                        for k, get in _STAGE_FIELDS.items():
                            s.counters[k] = s.counters.get(k, 0) + get(st)


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
