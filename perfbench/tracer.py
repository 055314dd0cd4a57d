"""In-memory span tracing from outside the program.

Spans are opened by the benchmark around its calls into the engine's public
functions, and around the engine's own nested calls by wrapping bound
methods of the objects the benchmark created (``wrap``). Nothing inside
``spark_on_hbase_spark`` is changed.

Each span tags the Spark jobs it launches with its own job group, so the
jobs, tasks and failed tasks of every layer call are read from
``statusTracker()`` afterwards; this needs no Spark UI. A span owns only the
jobs launched while it is the innermost open span, which matches self time:
a layer's self time is its span minus the part its child spans cover.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    child_s: float = 0.0
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def dur_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur_s - self.child_s


class Tracer:
    """Records spans while ``enabled``; a disabled tracer adds one attribute
    test per call and launches nothing. ``overhead_s`` is the time spent in
    the tracer's own bookkeeping: job-group calls and job counting."""

    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[Span] = []
        self._op = 0

    def _group(self, span: Span | None) -> None:
        if span is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(f"perfbench-{span.sid}", span.name)

    @contextmanager
    def span(self, name: str, **attrs):
        """Open a span; the body may add attributes to the yielded dict."""
        if not self.enabled:
            yield attrs
            return
        t0 = time.perf_counter()
        if not self._stack:
            self._op += 1
        parent = self._stack[-1] if self._stack else None
        s = Span(
            len(self.spans), name, self._op,
            None if parent is None else parent.sid, 0.0, attrs=attrs,
        )
        self.spans.append(s)
        self._stack.append(s)
        self._group(s)
        s.start = time.perf_counter()
        self.overhead_s += s.start - t0
        try:
            yield s.attrs
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._group(parent)
            if parent is not None:
                parent.child_s += s.dur_s
            else:
                self._count_jobs(self.op_spans(s.op))
            self.overhead_s += time.perf_counter() - s.end

    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def _count_jobs(self, spans: list[Span]) -> None:
        """Read job, stage and task counts for each span's job group. Runs
        after the op's root span closed, once the listener bus has caught
        up with the jobs' end events."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        for s in spans:
            for jid in st.getJobIdsForGroup(f"perfbench-{s.sid}"):
                s.jobs += 1
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    si = st.getStageInfo(sid)
                    if si is not None:
                        s.tasks += si.numCompletedTasks
                        s.failed_tasks += si.numFailedTasks

    def wrap(self, obj, method: str, name: str, before=None, after=None) -> None:
        """Trace every call of ``obj.method`` (including the engine's own
        calls through that object) as span ``name``. ``before(attrs)`` and
        ``after(attrs, result)`` may record attributes, such as rows from
        the return value."""
        bound = getattr(obj, method)
        tracer = self

        @functools.wraps(bound)
        def traced(*args, **kwargs):
            with tracer.span(name) as attrs:
                if tracer.enabled and before is not None:
                    before(attrs)
                out = bound(*args, **kwargs)
                if tracer.enabled and after is not None:
                    after(attrs, out)
                return out

        # the index's retry guard reads ``write.__self__`` to find the table
        traced.__self__ = bound.__self__
        setattr(obj, method, traced)

    def dump(self, path: str) -> None:
        """Write every span as one JSON line."""
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")
