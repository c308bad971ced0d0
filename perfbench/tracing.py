"""In-memory spans recorded around calls into the program's modules.

The benchmark never edits program code: `Tracer.instrument` replaces a
module or class attribute with a wrapper that opens a span, and
`Tracer.restore` puts every original back. A span has a name, start,
end, parent span and request id; spans stay in memory until the run
ends, when `self_times` and the workload summaries read them.

A span is recorded only on a thread that runs inside a request context
(`Tracer.request`). Work the program hands to another thread (the
broker's handler thread) joins the request through `adopt`.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("name", "sid", "parent", "rid", "start", "end", "attrs")

    def __init__(self, name, sid, parent, rid, start):
        self.name = name
        self.sid = sid
        self.parent = parent
        self.rid = rid
        self.start = start
        self.end = None
        self.attrs = None

    @property
    def dur(self) -> float:
        return self.end - self.start


class _Ctx:
    __slots__ = ("rid", "parent")

    def __init__(self, rid, parent):
        self.rid = rid
        self.parent = parent


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    # -- contexts -------------------------------------------------------
    def _ctx(self) -> _Ctx | None:
        return getattr(self._local, "ctx", None)

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def request(self, rid: str, parent: int | None = None):
        """Run the body as (part of) request `rid`."""
        prev = getattr(self._local, "ctx", None)
        self._local.ctx = _Ctx(rid, parent)
        try:
            yield
        finally:
            self._local.ctx = prev

    def handle(self) -> _Ctx | None:
        """The calling thread's request and innermost open span, for a
        thread that continues the request."""
        ctx = self._ctx()
        if ctx is None:
            return None
        st = self._stack()
        return _Ctx(ctx.rid, st[-1].sid if st else ctx.parent)

    @contextmanager
    def adopt(self, handle: _Ctx | None):
        if handle is None:
            yield
            return
        with self.request(handle.rid, handle.parent):
            yield

    # -- spans ----------------------------------------------------------
    def _open(self, name: str, ctx: _Ctx) -> Span:
        st = self._stack()
        parent = st[-1].sid if st else ctx.parent
        sp = Span(name, next(self._ids), parent, ctx.rid, time.perf_counter())
        st.append(sp)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()
        self.spans.append(sp)

    @contextmanager
    def span(self, name: str, **attrs):
        ctx = self._ctx()
        if ctx is None:
            yield None
            return
        sp = self._open(name, ctx)
        sp.attrs = attrs or None
        try:
            yield sp
        finally:
            self._close(sp)

    def wrap(self, name: str, fn, count=None):
        """`fn` wrapped in a span; `count(args, kwargs)` may return a dict
        of counts stored on the span."""
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            ctx = tracer._ctx()
            if ctx is None:
                return fn(*args, **kwargs)
            sp = tracer._open(name, ctx)
            if count is not None:
                sp.attrs = count(args, kwargs)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(sp)

        return traced

    def instrument(self, owner, attr: str, name: str, count=None) -> None:
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(name, orig, count))

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append(sp)
    out = {}
    for sp in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(
            (max(c.start, sp.start), min(c.end, sp.end)) for c in kids.get(sp.sid, ())
        ):
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
        out[sp.sid] = sp.dur - covered
    return out


def by_request(spans: list[Span]) -> dict[str, list[Span]]:
    out: dict[str, list[Span]] = {}
    for sp in spans:
        out.setdefault(sp.rid, []).append(sp)
    return out
