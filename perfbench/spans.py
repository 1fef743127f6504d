"""In-memory span tracing installed from outside the program.

``Tracer.wrap`` replaces a function attribute on a module or class with a
timing wrapper. Each call records a span: name, start, end, parent span,
request id and optional attributes. Nothing in the program is edited; the
wrappers are removed again by ``Tracer.uninstall``.

Self time is a span's duration minus the time its child spans cover.
"""

from __future__ import annotations

import functools
import json
import threading
import time


class Span:
    __slots__ = ("sid", "name", "start", "end", "parent", "req", "attrs")

    def __init__(self, sid, name, start, parent, req, attrs=None):
        self.sid = sid
        self.name = name
        self.start = start
        self.end = None
        self.parent = parent
        self.req = req
        self.attrs = attrs

    @property
    def dur(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {"id": self.sid, "name": self.name, "start": self.start,
                "end": self.end, "parent": self.parent, "req": self.req,
                "attrs": self.attrs}


class Tracer:
    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self._undo: list[tuple[object, str, object]] = []
        self._made: dict[tuple[int, str], object] = {}

    def __reduce__(self):
        # a wrapped function can be shipped inside a Spark UDF closure; the
        # copy on the far side records into its own, unread, tracer
        return (Tracer, ())

    # -- request context ------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def set_request(self, req_id, **attrs) -> None:
        """Tag the spans this thread opens from now on with ``req_id``."""
        self._local.req = req_id
        self._local.req_attrs = attrs or None

    # -- spans ------------------------------------------------------------------
    def open(self, name: str, attrs: dict | None = None) -> Span:
        stack = self._stack()
        with self._lock:
            sid = self._next
            self._next += 1
        parent = stack[-1].sid if stack else None
        req = getattr(self._local, "req", None)
        req_attrs = getattr(self._local, "req_attrs", None)
        if req_attrs:
            attrs = {**req_attrs, **(attrs or {})}
        span = Span(sid, name, self.clock(), parent, req, attrs)
        stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = self.clock()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()
        else:
            stack.remove(span)
        with self._lock:
            self.spans.append(span)

    def active(self, name: str) -> bool:
        return any(s.name == name for s in self._stack())

    # -- installation -----------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, outermost: bool = False,
             attrs_of=None) -> None:
        """Time every call of ``owner.attr`` as span ``name``.

        ``outermost`` records only the outermost call of a recursive
        function: a nested call made while a span of the same name is open
        on this thread runs untimed. ``attrs_of(args, kwargs)`` may return a
        dict stored on the span."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        key = (id(owner), attr)
        if key in self._made:
            # re-installing after uninstall puts back the SAME wrapper, so
            # references taken earlier (``from m import f``) stay identical
            # to the module attribute and still pickle by reference
            setattr(owner, attr, self._made[key])
            self._undo.append((owner, attr, raw))
            return
        fn = raw.__func__ if isinstance(raw, (staticmethod, classmethod)) else raw
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if outermost and tracer.active(name):
                return fn(*args, **kwargs)
            attrs = attrs_of(args, kwargs) if attrs_of is not None else None
            span = tracer.open(name, attrs)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(span)

        if isinstance(raw, staticmethod):
            new = staticmethod(wrapper)
        elif isinstance(raw, classmethod):
            new = classmethod(wrapper)
        else:
            new = wrapper
        self._made[key] = new
        setattr(owner, attr, new)
        self._undo.append((owner, attr, raw))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, raw = self._undo.pop()
            setattr(owner, attr, raw)

    # -- output -----------------------------------------------------------------
    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.sid):
                f.write(json.dumps(s.as_dict()) + "\n")


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total = 0.0
    cur_a = cur_b = None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the time its direct children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.sid: s.dur - covered(kids.get(s.sid, []), s.start, s.end)
            for s in spans}


def by_name(spans: list[Span], name: str) -> list[Span]:
    return [s for s in spans if s.name == name]


def has_ancestor(span: Span, index: dict[int, Span], name: str) -> Span | None:
    """The nearest enclosing span called ``name``, or None."""
    p = span.parent
    while p is not None:
        s = index.get(p)
        if s is None:
            return None
        if s.name == name:
            return s
        p = s.parent
    return None
