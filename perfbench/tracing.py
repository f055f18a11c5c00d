"""Span tracing for the benchmark's traced run.

Spans are recorded from the benchmark's own files only: ``Tracer.install``
replaces a function on the module (or object) its caller looks it up on, for
example ``api.build_eventlog``, with a wrapper that opens a span around the
call. Nothing is installed in an untraced run.

Every span sets its own Spark job group on the calling thread, so the jobs it
starts can be read back from the status store after the run (no UI server is
needed): ``statusTracker().getJobIdsForGroup`` -> ``stageIds`` ->
``statusStore().lastStageAttempt``. Spans live in memory and are written out
once, when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    req: str | None
    start: float  # epoch seconds
    end: float = 0.0
    group: str | None = None
    attrs: dict = field(default_factory=dict)
    jobs: list = field(default_factory=list)  # filled by collect_spark

    @property
    def layer(self) -> str:
        return self.name.split(".")[0]

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Job:
    jid: int
    submit: float
    end: float
    stages: int
    tasks: int
    run_s: float
    cpu_s: float
    shuffle_read: int
    shuffle_write: int
    spill: int


class Tracer:
    GROUP_KEY = "spark.jobGroup.id"

    def __init__(self) -> None:
        self.sc = None  # set once the session exists; spans before that carry no job group
        self.enabled = True
        self.spans: list[Span] = []
        self.ambient: Span | None = None  # parent for spans opened on threads with no open span
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, req: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else self.ambient
        sid = next(self._ids)
        sp = Span(sid, name, parent.sid if parent else None, req or (parent.req if parent else None), 0.0,
                  group=f"bench-span-{sid}", attrs=attrs)
        sc = self.sc
        if sc is None:
            sp.group = None
        else:
            prev_group = sc.getLocalProperty(self.GROUP_KEY)
            sc.setLocalProperty(self.GROUP_KEY, sp.group)
        stack.append(sp)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            if sc is not None:
                sc.setLocalProperty(self.GROUP_KEY, prev_group)
            with self._lock:
                self.spans.append(sp)

    def add(self, name: str, start: float, end: float, parent: Span, **attrs) -> Span:
        """Record a span measured elsewhere (a streaming micro-batch)."""
        sp = Span(next(self._ids), name, parent.sid, parent.req, start, end, attrs=attrs)
        with self._lock:
            self.spans.append(sp)
        return sp

    def install(self, target, attr: str, name: str, note=None) -> None:
        """Wrap ``target.attr`` in a span named ``name``; ``note(span,
        result)`` may annotate the span with the call's result."""
        orig = getattr(target, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                result = orig(*args, **kwargs)
                if note is not None and sp is not None:
                    note(sp, result)
                return result

        setattr(target, attr, traced)

    # -- Spark attribution -------------------------------------------------

    def collect_spark(self, extra_groups: dict[int, str] | None = None) -> None:
        """Attach each span's own jobs (by job group). Jobs that carry no
        group, or a group given in ``extra_groups`` {span id: group}, go to
        the innermost span whose interval holds their submission time."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        by_id = {sp.sid: sp for sp in self.spans}
        for sp in self.spans:
            if sp.group:
                sp.jobs = [self._job(tracker, store, j) for j in tracker.getJobIdsForGroup(sp.group)]
        loose = [self._job(tracker, store, j) for j in tracker.getJobIdsForGroup(None)]
        for sid, group in (extra_groups or {}).items():
            owner = by_id[sid]
            for j in tracker.getJobIdsForGroup(group):
                job = self._job(tracker, store, j)
                inner = self._innermost(job.submit, owner)
                inner.jobs.append(job)
        for job in loose:
            if job.submit <= 0:
                continue
            holders = [sp for sp in self.spans if sp.start <= job.submit <= sp.end]
            if holders:
                min(holders, key=lambda s: s.wall).jobs.append(job)

    def _innermost(self, t: float, owner: Span) -> Span:
        kids = [sp for sp in self.spans if sp.parent == owner.sid and sp.start <= t <= sp.end]
        return self._innermost(t, min(kids, key=lambda s: s.wall)) if kids else owner

    @staticmethod
    def _job(tracker, store, jid: int) -> Job:
        jd = store.job(jid)
        sub = jd.submissionTime()
        comp = jd.completionTime()
        submit = sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0
        end = comp.get().getTime() / 1000.0 if comp.isDefined() else submit
        info = tracker.getJobInfo(jid)
        stages = tasks = run_ms = cpu_ns = sr = sw = spill = 0
        for sid in list(info.stageIds) if info else []:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage evicted from the store
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            stages += 1
            tasks += sd.numTasks()
            run_ms += sd.executorRunTime()
            cpu_ns += sd.executorCpuTime()
            sr += sd.shuffleReadBytes()
            sw += sd.shuffleWriteBytes()
            spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return Job(jid, submit, end, stages, tasks, run_ms / 1e3, cpu_ns / 1e9, sr, sw, spill)

    # -- analysis ------------------------------------------------------------

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                out.setdefault(sp.parent, []).append(sp)
        return out

    def self_intervals(self, sp: Span, kids: list[Span]) -> list[tuple[float, float]]:
        """The parts of ``sp`` that no child covers."""
        return subtract([(sp.start, sp.end)], union([(k.start, k.end) for k in kids]))

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans], **extra}, f, default=str)


def union(iv: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(iv):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def subtract(base: list[tuple[float, float]], cut: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out = []
    for a, b in base:
        cur = a
        for c, d in cut:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append((cur, c))
            cur = max(cur, d)
        if cur < b:
            out.append((cur, b))
    return out


def length(iv: list[tuple[float, float]]) -> float:
    return sum(b - a for a, b in iv)


def clip(iv: list[tuple[float, float]], within: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out = []
    for a, b in iv:
        for c, d in within:
            lo, hi = max(a, c), min(b, d)
            if lo < hi:
                out.append((lo, hi))
    return out
