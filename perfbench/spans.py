"""Spans and filesystem-call counters recorded from benchmark code.

A :class:`Recorder` times every call the workloads make into the
library. Untraced, a span is only a wall-clock interval. Traced, it
also makes the span id the Spark job group for the duration of the
call, so the event-log parser can attribute jobs to it, and
:class:`FsCounter` wraps the public methods of ``HadoopFS`` to count
and time filesystem calls per span.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time

from eventlog import Span

JOB_GROUP = "spark.jobGroup.id"


class Recorder:
    """Closed spans, kept in memory and attributed when the run ends."""

    def __init__(self, sc=None):
        self._sc = sc  # a SparkContext when tracing, else None
        self._stack: list[Span] = []
        self.spans: list[Span] = []
        self._seq = 0

    @property
    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    @contextlib.contextmanager
    def span(self, name: str):
        self._seq += 1
        parent = self.current
        s = Span(f"pb{self._seq}", name, time.time(), 0.0, parent.id if parent else None)
        prev = None
        if self._sc is not None:
            prev = self._sc.getLocalProperty(JOB_GROUP)
            self._sc.setJobGroup(s.id, name)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self._sc is not None:
                self._sc.setLocalProperty(JOB_GROUP, prev)
            self.spans.append(s)


class FsCounter:
    """Counts and times calls into ``HadoopFS``'s public methods while
    installed, on the innermost open span: ``fs_calls`` in all, and
    ``fs.<method>.calls`` and ``fs.<method>.s`` per method. A call made
    from inside another counted call (one method using another) is not
    counted again."""

    def __init__(self, recorder: Recorder):
        from pandabase_spark.fs import HadoopFS

        self._cls = HadoopFS
        self._rec = recorder
        self._lock = threading.Lock()
        self._local = threading.local()
        self._saved: dict[str, object] = {}

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def counted(*args, **kwargs):
            if getattr(self._local, "depth", 0):
                return fn(*args, **kwargs)
            self._local.depth = 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                self._local.depth = 0
                span = self._rec.current
                if span is not None:
                    with self._lock:
                        for key, v in (("fs_calls", 1), (f"fs.{name}.calls", 1), (f"fs.{name}.s", dt)):
                            span.counts[key] = span.counts.get(key, 0) + v

        return counted

    def install(self) -> None:
        for name, fn in vars(self._cls).items():
            if callable(fn) and not name.startswith("_"):
                self._saved[name] = fn
                setattr(self._cls, name, self._wrap(name, fn))

    def uninstall(self) -> None:
        for name, fn in self._saved.items():
            setattr(self._cls, name, fn)
        self._saved.clear()
