"""In-memory spans recorded around calls into the program's layers.

A span is ``(request_id, span_id, parent_id, name, start, duration, attrs)``.
Spans of one request share the request id of the root span that opened
it; a span opened outside any request has request id ``None``.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time


class Tracer:
    def __init__(self):
        self.on = False
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self):
        """The innermost open span ``[rid, sid, name, attrs, parent]`` or None."""
        st = self._stack()
        return st[-1] if st else None

    def record(self, name: str, t0: float, dur: float, attrs: dict | None = None) -> None:
        """A finished child span of the current one (no children of its own)."""
        cur = self.current()
        rid, parent = (cur[0], cur[1]) if cur else (None, None)
        self.spans.append((rid, next(self._ids), parent, name, t0, dur, attrs or {}))

    def span(self, name: str, root: bool = False):
        return _Span(self, name, root)

    def wrap(self, owner, attr: str, name: str, root: bool = False, after=None, always=False):
        """Replace ``owner.attr`` with a version that records a span.

        ``after(attrs, args, result)`` may add attributes once the call
        returns.  A root span opens only while ``on`` (or ``always``); a
        child span is recorded whenever its thread is inside a span, so a
        request that started traced is traced to its end."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not (self.on or always or (not root and self.current())):
                return fn(*args, **kwargs)
            with self.span(name, root) as attrs:
                out = fn(*args, **kwargs)
                if after is not None:
                    after(attrs, args, out)
                return out

        setattr(owner, attr, traced)
        return fn


class _Span:
    def __init__(self, tracer: Tracer, name: str, root: bool):
        self.tracer, self.name, self.root = tracer, name, root

    def __enter__(self) -> dict:
        tr = self.tracer
        cur = tr.current()
        sid = next(tr._ids)
        if self.root or cur is None:
            rid, parent = (sid if self.root else None), None
        else:
            rid, parent = cur[0], cur[1]
        self.attrs: dict = {}
        self.frame = [rid, sid, self.name, self.attrs, parent]
        tr._stack().append(self.frame)
        self.t0 = time.perf_counter()
        return self.attrs

    def __exit__(self, et, ev, tb) -> None:
        dur = time.perf_counter() - self.t0
        tr = self.tracer
        tr._stack().pop()
        rid, sid, name, attrs, parent = self.frame
        if et is not None:
            attrs["error"] = et.__name__
        tr.spans.append((rid, sid, parent, name, self.t0, dur, attrs))
