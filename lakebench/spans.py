"""In-memory spans, Spark job accounting and summary statistics.

A `Tracer` records one span per call into a wrapped public function of
the package: name, start, end, parent span and request id. Spans are
kept in memory and written out once, when the run ends. Each span also
notes the Spark job and stage id counters at entry and exit, so the jobs,
stages and tasks it launched are resolved afterwards from the status
tracker (streaming jobs included: they take ids from the same counters).

When tracing is off, `span` is a no-op context manager and nothing is
wrapped, so the end-to-end figures carry no tracing cost.
"""

from __future__ import annotations

import functools
import json
import math
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: int
    start: float
    end: float = 0.0
    job0: int = 0
    job1: int = 0
    stage0: int = 0
    stage1: int = 0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> self time: its duration minus the part of its interval
    covered by its direct children (overlapping children count once)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = s.seconds - covered
    return out


class Tracer:
    """Span recorder. One client thread drives the run, but spans can open
    on Spark's callback thread (foreachBatch bodies) while the client
    waits, so the open-span stack is shared and locked, not per thread."""

    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self._sched = self._tracker = None
        #: index of the first span opened on the bound session
        self._epoch = 0

    def bind(self, spark) -> None:
        """Read job/stage counters from this session's scheduler. Job and
        stage ids restart with each SparkContext, so only spans opened from
        here on are resolved against it."""
        if not self.enabled:
            return
        self._sched = spark.sparkContext._jsc.sc().dagScheduler()
        self._tracker = spark.sparkContext.statusTracker()
        self._epoch = len(self.spans)

    def _counters(self) -> tuple[int, int]:
        if self._sched is None:
            return 0, 0
        return int(self._sched.nextJobId()), int(self._sched.nextStageId())

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        job0, stage0 = self._counters()
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            sid = len(self.spans)
            # a root span opens a request; its descendants share its id
            s = Span(
                id=sid, name=name, parent=parent.id if parent else None,
                request=parent.request if parent else sid,
                start=time.perf_counter(), job0=job0, stage0=stage0, attrs=dict(attrs),
            )
            self.spans.append(s)
            self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.job1, s.stage1 = self._counters()
            with self._lock:
                self._stack.remove(s)

    def wrap(self, module, attr: str, name: str, on_result=None) -> None:
        """Replace `module.attr` with a spanned version (no-op when off).
        `on_result(span, result)` can record counts from the return value."""
        if not self.enabled:
            return
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def spanned(*a, **kw):
            with self.span(name) as s:
                result = fn(*a, **kw)
                if on_result is not None:
                    on_result(s, result)
                return result

        self._patched.append((module, attr, fn))
        setattr(module, attr, spanned)

    def tap(self, owner, attr: str, observe) -> None:
        """Call `observe(*args)` after each call of `owner.attr`, without a
        span: for callbacks that arrive on other threads at any time."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def tapped(*a, **kw):
            result = fn(*a, **kw)
            observe(*a, **kw)
            return result

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, tapped)

    def unwrap(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    def resolve_counts(self) -> None:
        """Fill jobs/stages/tasks per span from the status tracker. Call
        once the session is idle, so the listener bus has caught up."""
        if self._tracker is None:
            return
        cache: dict[int, object] = {}
        for s in self.spans[self._epoch:]:
            s.jobs = max(s.job1 - s.job0, 0)
            s.stages = s.tasks = s.tasks_failed = 0
            for sid in range(s.stage0, s.stage1):
                if sid not in cache:
                    cache[sid] = self._tracker.getStageInfo(sid)
                info = cache[sid]
                if info is not None and info.numCompletedTasks + info.numFailedTasks > 0:
                    s.stages += 1
                    s.tasks += info.numCompletedTasks
                    s.tasks_failed += info.numFailedTasks

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


# ---------------------------------------------------------------------------
# statistics


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


#: the quantiles a latency may be reported at
QUANTILES = (0.5, 0.75, 0.9, 0.99, 0.999)


def tail_quantile(n: int) -> float | None:
    """The highest of `QUANTILES` that leaves at least ten of `n` samples
    beyond it; None when not even the median does."""
    best = None
    for q in QUANTILES:
        if n - math.ceil(q * n) >= 10:
            best = q
    return best
