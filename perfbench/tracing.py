"""Spans recorded by the benchmark around its calls into the library's
layers, plus Spark job/task accounting per span.

Spans live in memory and are written out once, when the run ends. Each
carries a name, start, end, the id of the span that caused it and a request
id shared by the spans of one request. Nothing inside the library is
changed: a span either surrounds a call in the benchmark's own code, or
surrounds one library function that ``wrap`` replaces, for the traced run
only, with a caller that opens the span and calls the original.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass

from stats import self_times, span_self_times


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    request: int | None
    jobs: int = 0
    tasks: int = 0


class Tracer:
    """Collects spans while ``enabled``; when it is off, ``span`` returns a
    shared null context, so the untraced run executes the same code and
    pays one attribute test per span."""

    _OFF = nullcontext()

    def __init__(self, enabled: bool, alternate: bool = False):
        self.enabled = enabled
        self.alternate = alternate
        self.spans: list[Span] = []
        self.counters: dict[int, dict] = {}   # span id -> injected counters
        self._stack: list[Span] = []
        self._sc = None
        self._sc_first = 0
        self._wrapped: list[tuple[object, str, object]] = []

    def traces(self, request: int) -> bool:
        """Whether the alternating traced run traces measured request
        ``request``: the odd ones, so traced and untraced requests share
        the loop and their latencies give the tracing overhead."""
        return request % 2 == 1

    def request(self, request: int | None) -> None:
        """Called before each measured request (``None``: outside the
        measured loops, always traced); no-op unless ``alternate``."""
        if self.alternate:
            self.enabled = request is None or self.traces(request)

    def attach_spark(self, spark_ctx) -> None:
        """Label every Spark job launched inside a span with a job group of
        its own, so its jobs and tasks can be counted afterwards."""
        self._sc = spark_ctx
        self._sc_first = len(self.spans)

    def span(self, name: str, request: int | None = None):
        return self._span(name, request) if self.enabled else self._OFF

    @contextmanager
    def _span(self, name: str, request: int | None):
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = parent.request
        s = Span(len(self.spans), name, 0.0, 0.0,
                 parent.sid if parent else None, request)
        self.spans.append(s)
        self._stack.append(s)
        if self._sc is not None:
            self._sc.setJobGroup(_group(s.sid), name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                if parent is not None:
                    self._sc.setJobGroup(_group(parent.sid), parent.name)
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setLocalProperty("spark.job.description", None)

    def wrap(self, owner, attr: str, name: str,
             counters: str | None = None) -> None:
        """Replace ``owner.attr`` (a module function or a class method) by
        a caller that runs the original inside span ``name`` while tracing
        is on. With ``counters``, the caller also passes a fresh dict as
        that keyword argument (e.g. ``stats_out``), unless the call site
        gave one, and keeps it in ``self.counters[span id]``."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name) as s:
                if counters is not None and kwargs.get(counters) is None:
                    kwargs[counters] = self.counters[s.sid] = {}
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)
        self._wrapped.append((owner, attr, fn))

    def unwrap(self) -> None:
        for owner, attr, fn in reversed(self._wrapped):
            setattr(owner, attr, fn)
        self._wrapped.clear()

    def collect_spark_work(self) -> None:
        """Fill every span's job/task counts from the status tracker. Call
        once before the session stops: the tracker is fed by an
        asynchronous listener, so counts read at span exit could miss the
        last job's stages."""
        if self._sc is None or not self.spans:
            return
        time.sleep(0.5)
        for s in self.spans[self._sc_first:]:
            s.jobs, s.tasks = spark_work(self._sc, _group(s.sid))
        self._sc = None

    def by_name(self, name: str, parent: str | None = None) -> list[Span]:
        """Spans called ``name`` (whose parent is called ``parent``, if
        given)."""
        return [s for s in self.spans if s.name == name and (
            parent is None or (s.parent is not None
                               and self.spans[s.parent].name == parent))]

    def self_s(self, name: str, parent: str | None = None) -> list[float]:
        """Self seconds of each span ``by_name(name, parent)`` returns."""
        st = span_self_times(self.spans)
        return [st[s.sid] for s in self.by_name(name, parent)]

    def work(self, *names: str, parent: str | None = None
             ) -> tuple[int, int]:
        """(jobs, tasks) Spark ran inside the spans called ``names``."""
        spans = [s for n in names for s in self.by_name(n, parent)]
        return sum(s.jobs for s in spans), sum(s.tasks for s in spans)

    def table(self) -> list[tuple[str, float, int, int, int]]:
        """(name, self seconds, count, jobs, tasks) per span name, in first-
        seen order. Jobs/tasks are those launched while the span was the
        innermost one."""
        st = self_times(self.spans)
        rows, seen = [], set()
        for s in self.spans:
            if s.name in seen:
                continue
            seen.add(s.name)
            same = self.by_name(s.name)
            rows.append((s.name, st[s.name][0], st[s.name][1],
                         sum(x.jobs for x in same),
                         sum(x.tasks for x in same)))
        return rows

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _group(sid: int) -> str:
    return f"perfbench-{sid}"


def spark_work(sc, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under job group ``group``, read back from the
    status tracker (tasks = the stages' task counts, skipped stages
    excluded)."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None and st.numCompletedTasks:
                tasks += st.numTasks
    return len(jobs), tasks
