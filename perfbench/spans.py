"""In-memory spans for traced runs.

A span records name, start, end, parent and the id of the request it
belongs to.  Spans are kept in memory and written out once, when the run
ends.  A layer's self time is its span's duration minus the part of that
interval its child spans cover.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    request: str | None

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(start: float, end: float, intervals) -> float:
    """Length of the part of [start, end] covered by the union of
    ``intervals`` (pairs), each clipped to the window."""
    clipped = sorted(
        (max(a, start), min(b, end)) for a, b in intervals if b > start and a < end
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, children) -> float:
    """Duration minus the part covered by child spans (overlapping
    children, e.g. concurrent appends, are counted once)."""
    return span.duration - covered(
        span.start, span.end, [(c.start, c.end) for c in children]
    )


class Tracer:
    """Collects spans; the parent of a new span is the innermost open span
    of the calling thread, or ``fallback_parent`` when that thread has none
    (work handed to a pool thread by a traced call)."""

    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.fallback_parent: int | None = None

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, request: str | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else self.fallback_parent
        sid = next(self._ids)
        stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, request))

    def add(self, name: str, start: float, end: float, parent=None, request=None) -> Span:
        """Record a span measured elsewhere (e.g. a streaming epoch)."""
        span = Span(next(self._ids), name, start, end, parent, request)
        with self._lock:
            self.spans.append(span)
        return span

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(s)) + "\n")


def traced_feed_store(tracer: Tracer):
    """A ``FeedStore`` subclass that records a ``feed.<method>`` span around
    the calls the workloads make (and ``table``/``_append`` under them), so
    the benchmark can split a streaming epoch into feed time and the rest.  Spans opened from the
    store's own pool threads take the enclosing ``add_posts`` span as
    parent."""
    from golang_cassandra_kafka_feed_spark.feed import FeedStore

    class TracedFeedStore(FeedStore):
        table_calls = 0

        def _traced(self, name, fn, *a, **kw):
            # the job description tags the Spark jobs this call runs, so the
            # REST counters can attribute them (feed.fan_out jobs, ...)
            sc = self.spark.sparkContext
            desc = sc.getLocalProperty("spark.job.description")
            sc.setJobDescription(f"feed.{name}")
            with tracer.span(f"feed.{name}") as sid:
                outer = tracer.fallback_parent
                if name == "add_posts":
                    tracer.fallback_parent = sid
                try:
                    return fn(*a, **kw)
                finally:
                    tracer.fallback_parent = outer
                    sc.setJobDescription(desc)

        def table(self, name):
            TracedFeedStore.table_calls += 1
            return self._traced("table", super().table, name)

        def add_posts(self, *a, **kw):
            return self._traced("add_posts", super().add_posts, *a, **kw)

        def fan_out(self, *a, **kw):
            return self._traced("fan_out", super().fan_out, *a, **kw)

        def _append(self, *a, **kw):
            return self._traced("append", super()._append, *a, **kw)

        def get_feed(self, *a, **kw):
            return self._traced("get_feed", super().get_feed, *a, **kw)

        def get_followers(self, *a, **kw):
            return self._traced("get_followers", super().get_followers, *a, **kw)

        def user_id_by_username(self, *a, **kw):
            return self._traced(
                "user_id_by_username", super().user_id_by_username, *a, **kw
            )

    return TracedFeedStore
