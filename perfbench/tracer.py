"""Outside-in tracer: wraps public callables of the engine's layers.

``Tracer.wrap(owner, attr, name)`` swaps ``owner.attr`` (a class or a
module) for a wrapper that records one span per call: name, start, end
and the index of the enclosing span. ``unwrap()`` puts every original
object back. Spans stay in memory until ``dump()``.

The tracer measures its own cost as it goes: the time spent in the
wrapper outside the wrapped call is summed into ``self_s``.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int  # index into Tracer.spans, -1 at the top
    note: str = ""

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.self_s = 0.0
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, name, on_return=None) -> None:
        """Record a span around every call of ``owner.attr``.

        ``name`` is a span name, or a callable ``(args, kwargs) -> name``.
        ``on_return(span, args, result)`` may annotate the span.
        """
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            t_in = time.perf_counter()
            label = name(args, kwargs) if callable(name) else name
            idx = len(tracer.spans)
            span = Span(label, 0.0, 0.0, tracer._stack[-1] if tracer._stack else -1)
            tracer.spans.append(span)
            tracer._stack.append(idx)
            span.start = time.perf_counter()
            try:
                result = orig(*args, **kwargs)
            finally:
                span.end = time.perf_counter()
                tracer._stack.pop()
            if on_return is not None:
                on_return(span, args, result)
            tracer.self_s += (span.start - t_in) + (time.perf_counter() - span.end)
            return result

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def unwrap(self) -> None:
        """Restore every wrapped attribute to its original object."""
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def span(self, name: str):
        """Context manager recording a span from the benchmark's own code."""
        return _Manual(self, name)

    def named(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name.startswith(prefix)]

    def covered(self, idx: int, names: tuple[str, ...]) -> float:
        """Time inside span ``idx`` spent in descendant spans whose name
        starts with one of ``names`` (outermost such spans only)."""
        total = 0.0
        for j in range(idx + 1, len(self.spans)):
            s = self.spans[j]
            if s.start >= self.spans[idx].end:
                break
            if not s.name.startswith(names):
                continue
            p = s.parent
            while p > idx and not self.spans[p].name.startswith(names):
                p = self.spans[p].parent
            if p == idx:
                total += s.dur
        return total

    def dump(self, path: str) -> None:
        """Write every span as one JSON line."""
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(
                    json.dumps(
                        {"i": i, "name": s.name, "start": s.start, "end": s.end,
                         "parent": s.parent, "note": s.note}
                    )
                    + "\n"
                )


class _Manual:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name = tracer, name

    def __enter__(self) -> Span:
        t = self.tracer
        self.idx = len(t.spans)
        self.span = Span(self.name, time.perf_counter(), 0.0, t._stack[-1] if t._stack else -1)
        t.spans.append(self.span)
        t._stack.append(self.idx)
        return self.span

    def __exit__(self, *exc) -> None:
        self.span.end = time.perf_counter()
        self.tracer._stack.pop()
