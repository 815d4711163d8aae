"""Span recorder for the traced run.

The benchmark observes the program from outside: ``Tracer.wrap`` swaps a
public function or method for a wrapper that records a span around each
call, and an operation (one timed request of a workload) is opened with
``Tracer.op``.  A span holds its name, start, end, parent span, the id of
the operation it belongs to, and the Spark jobs, stages and tasks that ran
inside it (each span runs its jobs under its own ``setJobGroup`` id and
reads them back from ``statusTracker()`` when it ends).  Spans stay in
memory; ``fold`` turns them into per-name totals when the run ends.

Names that a caller binds with ``from module import name`` must be wrapped
in the caller's module, where the call looks them up.

Of each operation kind, every other operation runs untraced (``every=2``),
so one run measures the tracing overhead as the traced minus the untraced
latency of the same operation kind under the same machine load.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
import uuid
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    parent: int | None
    op: int
    name: str
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    extra: dict = field(default_factory=dict)


@dataclass
class Op:
    oid: int
    kind: str
    traced: bool
    start: float
    end: float = 0.0


class Tracer:
    def __init__(self, spark=None, every: int = 2):
        self.sc = spark.sparkContext if spark is not None else None
        self.every = every
        self.spans: list[Span] = []
        self.ops: list[Op] = []
        self._ids = itertools.count()
        # job groups outlive a tracer in the status tracker: keep this
        # tracer's group ids apart from any earlier tracer's
        self._group = f"perfbench-{uuid.uuid4().hex[:8]}"
        self._op_ids = itertools.count()
        self._kind_seen: dict[str, int] = {}
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        #: spans are recorded only while active: the benchmark switches
        #: recording off for set-up and the output checks
        self.active = True

    # -- operations ------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def _begin_op(self, kind: str) -> Op:
        with self._lock:
            oid = next(self._op_ids)
            seen = self._kind_seen.get(kind, 0)
            self._kind_seen[kind] = seen + 1
            op = Op(oid, kind, seen % self.every == 0, time.perf_counter())
            self.ops.append(op)
        self._tls.op = op
        return op

    def _end_op(self, op: Op) -> None:
        op.end = time.perf_counter()
        self._tls.op = None

    def op(self, kind: str):
        """Context manager for one operation, recorded as a root span
        ``op.<kind>`` when traced; yields the ``Op``."""
        return _OpCtx(self, kind)

    def current_op(self) -> Op | None:
        return getattr(self._tls, "op", None)

    # -- spans -----------------------------------------------------------
    def span(self, name: str):
        """Context manager recording one span in the current operation
        (or a root span outside any operation); yields the ``Span`` or
        None when the current operation is untraced."""
        return _SpanCtx(self, name)

    def _enter(self, name: str) -> Span | None:
        op = self.current_op()
        if not self.active or (op is not None and not op.traced):
            return None
        st = self._stack()
        sp = Span(
            next(self._ids),
            st[-1][0].sid if st else None,
            op.oid if op is not None else -1,
            name,
            0.0,
        )
        saved = None
        if self.sc is not None:
            saved = (
                self.sc.getLocalProperty("spark.jobGroup.id"),
                self.sc.getLocalProperty("spark.job.description"),
            )
            self.sc.setJobGroup(f"{self._group}-{sp.sid}", name)
        st.append((sp, saved))
        sp.start = time.perf_counter()
        return sp

    def _exit(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        _, saved = self._stack().pop()
        if saved is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", saved[0])
            self.sc.setLocalProperty("spark.job.description", saved[1])
            sp.jobs, sp.stages, sp.tasks = job_counts(
                self.sc, f"{self._group}-{sp.sid}"
            )
        with self._lock:
            self.spans.append(sp)

    # -- wrapping ----------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, call=None,
             opens_op: str | None = None) -> None:
        """Record a span named ``name`` around every call of
        ``owner.attr``.  ``call(orig, span, *args, **kwargs)``, when
        given, makes the call in place of ``orig(*args, **kwargs)`` and
        may annotate the span (``span`` is None when untraced).  With
        ``opens_op``, a call made outside any operation opens one of that
        kind (calls from a thread the benchmark does not drive, such as a
        streaming query's batch writer)."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **k):
            op = None
            if opens_op and tracer.active and tracer.current_op() is None:
                op = tracer._begin_op(opens_op)
            try:
                with tracer.span(name) as sp:
                    if call is not None:
                        return call(orig, sp, *a, **k)
                    return orig(*a, **k)
            finally:
                if op is not None:
                    tracer._end_op(op)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()


class _OpCtx:
    def __init__(self, tracer: Tracer, kind: str):
        self.tracer, self.kind = tracer, kind

    def __enter__(self) -> Op:
        self.op = self.tracer._begin_op(self.kind)
        self.span = self.tracer.span(f"op.{self.kind}")
        self.span.__enter__()
        return self.op

    def __exit__(self, *exc) -> None:
        self.span.__exit__(*exc)
        self.tracer._end_op(self.op)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self) -> Span | None:
        self.sp = self.tracer._enter(self.name)
        return self.sp

    def __exit__(self, exc_type, *exc) -> None:
        if self.sp is not None:
            if exc_type is not None:
                self.sp.extra["raised"] = exc_type.__name__
            self.tracer._exit(self.sp)


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages run, tasks run) of one job group.  A stage that was
    skipped (its shuffle output reused) ran no task and is not counted.
    The status tracker is fed asynchronously by the listener bus, so the
    bus is drained first; without that a just-finished job can be missing
    or short of tasks."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            s = st.getStageInfo(sid)
            if s is not None and s.numCompletedTasks:
                stages += 1
                tasks += s.numCompletedTasks
    return len(jobs), stages, tasks


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: (s.end - s.start) - _covered(kids.get(s.sid, []), s.start, s.end)
        for s in spans
    }


@dataclass
class LayerTotals:
    calls: int = 0
    self_s: float = 0.0
    total_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0


def inclusive_counts(spans: list[Span]) -> dict[int, list[int]]:
    """Span id -> [jobs, stages, tasks] of the span and its descendants."""
    by_id = {s.sid: s for s in spans}
    incl = {s.sid: [s.jobs, s.stages, s.tasks] for s in spans}
    for s in sorted(spans, key=lambda s: s.end):  # children end first
        p = by_id.get(s.parent) if s.parent is not None else None
        if p is not None:
            for i in range(3):
                incl[p.sid][i] += incl[s.sid][i]
    return incl


def fold(spans: list[Span]) -> dict[str, LayerTotals]:
    """Per span name: calls, summed self and total seconds, and Spark
    jobs/stages/tasks including those of descendant spans."""
    incl = inclusive_counts(spans)
    selfs = self_times(spans)
    out: dict[str, LayerTotals] = {}
    for s in spans:
        t = out.setdefault(s.name, LayerTotals())
        t.calls += 1
        t.self_s += selfs[s.sid]
        t.total_s += s.end - s.start
        j, g, k = incl[s.sid]
        t.jobs += j
        t.stages += g
        t.tasks += k
    return out
