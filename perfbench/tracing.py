"""In-memory span recorder for the traced run.

Spans are recorded only from the benchmark's own code: around the calls
it makes, and around library functions it wraps from outside (module
attributes or instance attributes it patches, restored afterwards).
Each span has a name, start, end, parent span and request id; spans
stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import contextvars
import functools
import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Callable, Dict, List

_CUR_SPAN: contextvars.ContextVar = contextvars.ContextVar("span", default=None)
_CUR_REQ: contextvars.ContextVar = contextvars.ContextVar("req", default=None)


class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "req")

    def __init__(self, id, name, start, parent, req):
        self.id, self.name, self.start = id, name, start
        self.end = start
        self.parent, self.req = parent, req

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """`enabled` gates recording; when off, wrappers call straight
    through, so the same patched objects serve traced and untraced
    requests (the traced run alternates them to measure overhead)."""

    def __init__(self) -> None:
        self.spans: List[Span] = []
        self.enabled = False
        self._patches: list = []
        self._by_req = None  # (span count, {req_id: layer spans}) for coverage()

    # -- recording ---------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), name, time.perf_counter(),
                 _CUR_SPAN.get(), _CUR_REQ.get())
        self.spans.append(s)
        tok = _CUR_SPAN.set(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            _CUR_SPAN.reset(tok)

    @contextmanager
    def request(self, req_id: str, traced: bool):
        """Scope one request (or batch): spans inside carry `req_id`."""
        self.enabled = traced
        tok = _CUR_REQ.set(req_id)
        try:
            with self.span("request") as s:
                yield s
        finally:
            _CUR_REQ.reset(tok)
            self.enabled = False

    def current_request(self):
        return _CUR_REQ.get()

    def wrap(self, name: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def traced(*a, **kw):
            if not self.enabled:
                return fn(*a, **kw)
            with self.span(name):
                return fn(*a, **kw)

        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace `owner.attr` with a span-recording wrapper."""
        self.replace(owner, attr, lambda orig: self.wrap(name, orig))

    def replace(self, owner, attr: str, make: Callable) -> None:
        """Set `owner.attr` to `make(original)` until unpatch_all()."""
        orig = getattr(owner, attr)
        had_own = attr in getattr(owner, "__dict__", {})
        self._patches.append((owner, attr, orig, had_own))
        setattr(owner, attr, make(orig))

    def unpatch_all(self) -> None:
        while self._patches:
            owner, attr, orig, had_own = self._patches.pop()
            if had_own or not hasattr(type(owner), attr):
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)  # fall back to the class method

    # -- analysis ----------------------------------------------------
    def self_times(self) -> Dict[str, Dict[str, float]]:
        """-> {req_id: {span name: summed self seconds}}. Self time is
        a span's duration minus its direct children's durations."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.dur
        out: Dict[str, Dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            if s.req is not None:
                out[s.req][s.name] += s.dur - child[s.id]
        return out

    def coverage(self, req_id: str, start: float, end: float) -> float:
        """Share of [start, end] covered by the union of `req_id`'s
        layer spans (every span but the request span itself)."""
        if self._by_req is None or self._by_req[0] != len(self.spans):
            by: Dict[str, List[Span]] = defaultdict(list)
            for s in self.spans:
                if s.name != "request":
                    by[s.req].append(s)
            self._by_req = (len(self.spans), by)
        iv = sorted(
            (max(s.start, start), min(s.end, end)) for s in self._by_req[1][req_id]
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in iv:
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
        return covered / (end - start) if end > start else 0.0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "start": s.start,
                    "end": s.end, "parent": s.parent, "req": s.req,
                }) + "\n")


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0
