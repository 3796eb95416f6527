"""In-memory timing spans around the calls the benchmark makes into the
package.

A span records its name, start, end, parent span and the id of the request
(op) it belongs to. Spans nest per thread. They stay in memory while the run
lasts and are written out once at exit. Wrapping replaces a function or
method on its owner for the life of the tracer and restores it on close.
"""

from __future__ import annotations

import functools
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
    start_ns: int
    end_ns: int
    parent: int | None
    op: int | None
    error: str | None = None

    @property
    def ms(self) -> float:
        return (self.end_ns - self.start_ns) / 1e6


def covered(intervals, lo, hi):
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0, None, None
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


def self_time_ns(span: Span, children) -> int:
    """A span's duration minus the part of it its child spans cover.
    Overlapping children (parallel work) count once."""
    return (span.end_ns - span.start_ns) - covered(
        [(c.start_ns, c.end_ns) for c in children], span.start_ns, span.end_ns)


class Tracer:
    """Collects spans while ``enabled``; a disabled tracer costs one
    attribute test per wrapped call."""

    def __init__(self) -> None:
        self.enabled = False
        self.op: int | None = None
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        err = None
        t0 = time.perf_counter_ns()
        try:
            yield
        except BaseException as e:
            err = type(e).__name__
            raise
        finally:
            t1 = time.perf_counter_ns()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, t0, t1, parent, self.op, err))

    def wrap(self, owner, attr: str, name: str) -> None:
        """Time every call of ``owner.attr`` as a span called ``name``."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            if not self.enabled:
                return original(*args, **kwargs)
            with self.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, original))

    def close(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")
