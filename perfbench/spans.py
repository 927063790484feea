"""In-memory span recorder for the traced run.

Spans are recorded only from the benchmark's own files: :meth:`Tracer.patch`
replaces a public function or method *where its caller looks it up* (e.g.
``operators.cascade.rollup_step``) with a wrapper that opens a span around
the original call, and :meth:`Tracer.restore` puts every original back.
Each span carries the id of the span that was open when it started (its
parent) and the index of the benchmark operation it belongs to, so all
spans of one operation share an identifier. Times are ``perf_counter``
seconds; :meth:`Tracer.wall` maps a span to wall-clock seconds, the clock
of Spark's event log.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    op: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.op: int | None = None
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self.wall0 = time.time() - time.perf_counter()

    @property
    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self.current
        s = Span(len(self.spans), parent.id if parent else None, name, self.op,
                 time.perf_counter(), attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def patch(self, owner, attr: str, name: str, around=None) -> None:
        """Wrap ``owner.attr`` in a span called ``name``.

        ``around(span, args, kwargs, call)`` — optional — runs in place of
        the bare ``call()`` inside the span, so a caller can add counts to
        the span or run extra traced work before the original call."""
        # a class attribute may be inherited: wrap what lookup finds, and on
        # restore delete the wrapper instead of pinning the inherited one
        own = attr in vars(owner)
        orig = vars(owner)[attr] if own else getattr(owner, attr)
        fn = orig.__func__ if isinstance(orig, staticmethod) else orig

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name) as s:
                call = functools.partial(fn, *args, **kwargs)
                if around is None:
                    return call()
                return around(s, args, kwargs, call)

        setattr(owner, attr, staticmethod(wrapper) if isinstance(orig, staticmethod) else wrapper)
        self._patched.append((owner, attr, orig if own else None))

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            if orig is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)

    def wall(self, span: Span) -> tuple[float, float]:
        return span.start + self.wall0, span.end + self.wall0

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of its interval that child spans cover
        (children may overlap each other; the union is subtracted once)."""
        ivs = sorted(
            (max(c.start, span.start), min(c.end, span.end))
            for c in self.children(span)
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
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
        return span.duration - covered

    def find(self, name: str, parent_name: str | None = None) -> list[Span]:
        by_id = {s.id: s for s in self.spans}
        out = []
        for s in self.spans:
            if s.name != name:
                continue
            if parent_name is not None:
                p = by_id.get(s.parent)
                if p is None or p.name != parent_name:
                    continue
            out.append(s)
        return out

    def total(self, name: str, parent_name: str | None = None) -> float:
        return sum(s.duration for s in self.find(name, parent_name))

    def by_name(self) -> dict:
        """{name: {count, total_s, self_s}} over every recorded span."""
        out: dict = {}
        for s in self.spans:
            agg = out.setdefault(s.name, {"count": 0, "total_s": 0.0, "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += s.duration
            agg["self_s"] += self.self_time(s)
        return out

    def to_json(self) -> list[dict]:
        return [
            {"id": s.id, "parent": s.parent, "name": s.name, "op": s.op,
             "start": s.start, "end": s.end, "attrs": s.attrs}
            for s in self.spans
        ]
