"""In-memory spans around the public functions of each engine layer, plus
the small statistics the benchmark reports.

Spans are recorded only while a ``Tracer`` is installed; the untimed and
untraced paths never touch this module's wrappers.  A span holds its
name, start, end, parent and free-form counters; the per-layer numbers
are computed from the span list after the run.
"""

from __future__ import annotations

import functools
import math
import statistics
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def self_time(span: Span, spans: list[Span]) -> float:
    """The span's duration minus the part of it that its direct children
    cover.  Children may overlap each other (threads), so the covered
    time is the union of their intervals clipped to the parent."""
    kids = sorted(
        (max(s.start, span.start), min(s.end, span.end))
        for s in spans if s.parent == span.sid
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in kids:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span.dur - covered


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0)


def tail_percentile(xs: list[float]) -> tuple[float, float] | None:
    """(p, value) for the highest percentile with at least ten samples
    beyond it, or None when there are too few samples for any."""
    n = len(xs)
    for p in TAIL_CANDIDATES:
        # nearest rank: the smallest value with at least p% at or below it
        rank = math.ceil(round(p * n / 100.0, 6))
        if n - rank >= 10:
            return p, sorted(xs)[max(0, rank - 1)]
    return None


class JobCounter:
    """Spark jobs, stages and tasks started, read from the scheduler's id
    counters.  The difference of two readings is the number started in
    between, however many jobs the status tracker still retains."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._tasks = jsc.taskScheduler()

    def read(self) -> tuple[int, int, int]:
        return (int(self._dag.nextJobId()), int(self._dag.nextStageId()),
                int(self._tasks.nextTaskId()))

    @staticmethod
    def diff(before: tuple[int, int, int], after: tuple[int, int, int]) -> dict:
        jobs, stages, tasks = (a - b for a, b in zip(after, before))
        return {"jobs": jobs, "stages": stages, "tasks": tasks}


class Tracer:
    """Records spans from wrappers installed on module attributes.

    ``install(owner, attr, name)`` replaces ``owner.attr`` (a module
    function or a class method) with a wrapper that opens a span named
    ``name``; ``uninstall()`` puts every original back.  A ``post`` hook
    gets (span, args, kwargs, result) and may add counters to the span.

    ``own_s`` sums the time the wrappers spend outside the function they
    wrap (span bookkeeping, Spark counter reads, ``post`` hooks): the
    time tracing adds to a traced run.
    """

    def __init__(self, jobs: JobCounter | None = None):
        self.spans: list[Span] = []
        self.own_s = 0.0
        self._jobs = jobs
        self._local = threading.local()
        self._lock = threading.Lock()
        self._originals: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str) -> Span:
        st = self._stack()
        with self._lock:
            sp = Span(len(self.spans), name, 0.0, parent=st[-1] if st else None)
            self.spans.append(sp)
        st.append(sp.sid)
        if self._jobs is not None:
            sp.attrs["_jobs0"] = self._jobs.read()
        sp.start = time.perf_counter()
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        if self._jobs is not None:
            sp.attrs.update(JobCounter.diff(sp.attrs.pop("_jobs0"), self._jobs.read()))
        self._stack().pop()

    def span(self, name: str):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.sp = tracer.open(name)
                return self.sp

            def __exit__(self, *exc):
                tracer.close(self.sp)
                return False

        return _Ctx()

    def install(self, owner, attr: str, name: str, post=None) -> None:
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

        pc = time.perf_counter

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            t0 = pc()
            sp = self.open(name)
            t1 = pc()
            try:
                out = orig(*args, **kwargs)
            finally:
                t2 = pc()
                self.close(sp)
            if post is not None:
                post(sp, args, kwargs, out)
            own = (t1 - t0) + (pc() - t2)
            with self._lock:
                self.own_s += own
            return out

        self._originals.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        while self._originals:
            owner, attr, orig = self._originals.pop()
            setattr(owner, attr, orig)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def inside(self, name: str, ancestor: str) -> list[Span]:
        """Spans called ``name`` with an enclosing span called ``ancestor``."""
        out = []
        for s in self.named(name):
            p = s.parent
            while p is not None and self.spans[p].name != ancestor:
                p = self.spans[p].parent
            if p is not None:
                out.append(s)
        return out

    def dump(self) -> list[dict]:
        return [
            {"id": s.sid, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, **{k: v for k, v in s.attrs.items() if not k.startswith("_")}}
            for s in self.spans
        ]
