"""Span recorder for the traced run: wall time plus job-group-scoped
Spark counters, taken from outside the program.

Each span sets its own Spark job group on the calling thread (restoring
the parent's on exit), so at exit the span looks up exactly the jobs
that ran under it with ``statusTracker().getJobIdsForGroup`` and reads
their stages from the application status store. Job ids are never
diffed across the session, so jobs evicted by ``spark.ui.retainedJobs``
before the span began cannot skew its count.

Jobs that ran outside every span's thread (for example in a plain
thread pool the program starts itself, or under a job group some other
component set) are reported as ``unattributed``: job ids are dense, so
the total is read from the scheduler's next job id at start and finish,
and every job a top-level span did not claim is unattributed, whether
or not the status store still retains it.

Spans stay in memory until the run ends. ``Recorder.wrap`` puts a span
around a function, and ``Patcher`` installs wrapped functions in place
and restores the originals; the untraced run uses neither.
"""

from __future__ import annotations

import functools
import itertools
import sys
import threading
import time
from contextlib import contextmanager

GROUP_PREFIX = "perfbench-span-"
COUNTERS = ("jobs", "stages", "tasks", "executor_ms", "shuffle_bytes",
            "input_bytes")


class Span:
    __slots__ = ("id", "name", "parent", "op", "start", "end", "children_s",
                 "intervals", "attrs") + COUNTERS

    def __init__(self, sid, name, parent, op):
        self.id, self.name, self.parent, self.op = sid, name, parent, op
        self.start = self.end = 0.0
        self.children_s = 0.0
        self.intervals: list[tuple[float, float]] = []  # job walls, inclusive
        self.attrs: dict = {}
        for c in COUNTERS:
            setattr(self, c, 0)

    @property
    def s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.s - self.children_s

    @property
    def driver_s(self) -> float:
        """Span time during which none of its (or its children's) jobs ran."""
        busy, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(self.intervals):
            lo, hi = max(lo, self.start), min(hi, self.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    busy += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            busy += cur_hi - cur_lo
        return max(0.0, self.s - busy)


class Recorder:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.tracker = self.sc.statusTracker()
        self.spans: list[Span] = []
        self.op = None  # id of the workload op the next spans belong to
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._dag = jsc.dagScheduler()
        self._first_job = self._dag.nextJobId()
        self.attributed = 0

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = Span(next(self._ids), name, parent.id if parent else None, self.op)
        group = f"{GROUP_PREFIX}{sp.id}"
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        stack.append(sp)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            self._collect(sp, group)
            if parent is not None:
                parent.children_s += sp.s
                parent.intervals.extend(sp.intervals)
                for c in COUNTERS:
                    setattr(parent, c, getattr(parent, c) + getattr(sp, c))
            else:
                self.attributed += sp.jobs
            self.spans.append(sp)

    def drain(self) -> None:
        """Wait until the status store has seen every posted event."""
        self.bus.waitUntilEmpty()

    def _collect(self, sp: Span, group: str) -> None:
        self.drain()
        seen_stages: set[int] = set()
        for jid in self.tracker.getJobIdsForGroup(group):
            job = self.store.job(jid)
            sp.jobs += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                sp.intervals.append(
                    (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                )
            it = job.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                st = self.store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                sp.stages += 1
                sp.tasks += st.numCompleteTasks() + st.numFailedTasks()
                sp.executor_ms += st.executorRunTime()
                sp.shuffle_bytes += st.shuffleWriteBytes()
                sp.input_bytes += st.inputBytes()

    def finish(self) -> int:
        """Number of jobs since the recorder started that no span claimed."""
        self.drain()
        return self._dag.nextJobId() - self._first_job - self.attributed

    # ------------------------------------------------------------------
    # wrappers

    def wrap(self, fn, name, after=None):
        """``fn`` with a span around each call. ``name`` is a string or a
        callable ``(args, kwargs) -> str``; ``after(span, args, kwargs,
        result)`` runs once the span has closed, to attach attributes."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            n = name(args, kwargs) if callable(name) else name
            with self.span(n) as sp:
                out = fn(*args, **kwargs)
            if after is not None:
                after(sp, args, kwargs, out)
            return out

        return traced


class Patcher:
    """Replace functions/methods in place and put the originals back."""

    def __init__(self):
        self._undo: list[tuple[object, str, object, bool]] = []

    def set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr], False))
        setattr(owner, attr, value)

    def set_item(self, mapping: dict, key, value) -> None:
        self._undo.append((mapping, key, mapping[key], True))
        mapping[key] = value

    def everywhere(self, fn, value, package: str) -> int:
        """Rebind every module-level reference to ``fn`` under ``package``
        (``from x import f`` copies the binding into the importer)."""
        n = 0
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(package):
                continue
            for k, v in list(vars(mod).items()):
                if v is fn:
                    self.set(mod, k, value)
                    n += 1
        return n

    def restore(self) -> None:
        while self._undo:
            owner, attr, old, item = self._undo.pop()
            if item:
                owner[attr] = old
            else:
                setattr(owner, attr, old)
