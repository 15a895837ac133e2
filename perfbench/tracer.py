"""In-memory span tracer for the traced run.

Spans are recorded around calls into the program's module-level functions
and public methods (installed by monkeypatching, removed afterwards) and
around the benchmark's own client operations. Each span that may run Spark
jobs tags its thread with a job group `pb:<span id>`, so the status store's
per-job metrics can be attributed to the span that caused them.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("sid", "name", "start", "end", "parent", "thread", "attrs")

    def __init__(self, sid, name, start, parent, thread):
        self.sid, self.name, self.start, self.parent, self.thread = sid, name, start, parent, thread
        self.end = None
        self.attrs: dict = {}

    def as_dict(self) -> dict:
        return {"id": self.sid, "name": self.name, "start": self.start, "end": self.end,
                "parent": self.parent, "thread": self.thread, **self.attrs}


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.enabled = False
        self._lock = threading.Lock()
        self._tl = threading.local()
        self._open: dict[int, Span] = {}
        self._patches: list[tuple] = []
        self._next = 0

    def _stack(self) -> list[Span]:
        if not hasattr(self._tl, "stack"):
            self._tl.stack = []
        return self._tl.stack

    @contextmanager
    def span(self, name: str, cross_parent: str | None = None, group: bool = True):
        """Record one span. `cross_parent` names the span that caused this
        one when it runs on another thread (a replay's pipelined batches);
        `group=False` skips the job-group tag for spans that run no job."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        with self._lock:
            sid = self._next
            self._next += 1
            if stack:
                parent = stack[-1].sid
            elif cross_parent is not None:
                open_ = [s for s in self._open.values() if s.name == cross_parent]
                parent = open_[-1].sid if open_ else None
            else:
                parent = None
            sp = Span(sid, name, time.perf_counter(), parent, threading.current_thread().name)
            self._open[sid] = sp
        prev = None
        if group:
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", f"pb:{sid}")
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if group:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)
            with self._lock:
                del self._open[sid]
                self.spans.append(sp)

    def patch(self, owner, attr: str, name: str, cross_parent: str | None = None,
              group: bool = True, before=None, after=None) -> None:
        """Wrap `owner.attr` in a span. `before(span, args)` runs inside the
        span ahead of the call; `after(span, args, result)` runs once the
        span has closed. Both may attach attributes to the span."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name, cross_parent, group) as sp:
                if before is not None and sp is not None:
                    before(sp, args)
                out = orig(*args, **kwargs)
            if after is not None and sp is not None:
                after(sp, args, out)
            return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()


def covered(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a sorted list of intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in intervals:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → self time: its duration minus the part of it that its
    child spans (among `spans`) cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.sid, []))
        out[s.sid] = (s.end - s.start) - covered(ivs)
    return out


def descendants(spans: list[Span], root_ids: set[int]) -> set[int]:
    """The ids of `root_ids` and of every span among `spans` below them."""
    ids = set(root_ids)
    for s in sorted(spans, key=lambda s: s.sid):
        if s.parent in ids:
            ids.add(s.sid)
    return ids
