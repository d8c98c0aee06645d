"""In-memory spans recorded at layer boundaries, written once at the end.

A span has a name, a layer, start/end (perf_counter seconds), the span
that caused it and the trace id of the operation it belongs to. A
layer's self time is its spans' durations minus the part of each span's
interval covered by its child spans.

With tracing off (``enabled`` false) ``span`` is a shared no-op context
manager and ``wrap`` returns the function unchanged, so untraced runs pay
nothing. In a traced run, ``active`` switches recording on per operation,
which lets the same process time each operation with and without spans.
"""

from __future__ import annotations

import contextlib
import functools
import time
from collections import defaultdict


class _NoSpan:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


_NO_SPAN = _NoSpan()


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.active = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._trace_id: str | None = None

    @contextlib.contextmanager
    def operation(self, trace_id: str):
        """Scope every span opened inside to one operation's trace id."""
        prev, self._trace_id = self._trace_id, trace_id
        try:
            yield
        finally:
            self._trace_id = prev

    def span(self, name: str, layer: str | None = None):
        if not (self.enabled and self.active):
            return _NO_SPAN
        return self._span(name, layer or name.split(".", 1)[0])

    @contextlib.contextmanager
    def _span(self, name: str, layer: str):
        rec = {
            "name": name,
            "layer": layer,
            "trace_id": self._trace_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        idx = len(self.spans)
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn, layer: str | None = None):
        """``fn`` with a span around every call (``fn`` itself when off)."""
        if not self.enabled:
            return fn

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name, layer):
                return fn(*a, **kw)

        return traced

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_time_by_layer(self) -> dict[str, float]:
        children: dict[int, list[int]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s["parent"] is not None:
                children[s["parent"]].append(i)
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            covered = union_length(
                (self.spans[c]["start"], self.spans[c]["end"])
                for c in children.get(i, ())
            )
            out[s["layer"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def dump(self) -> list[dict]:
        return [dict(s, id=i) for i, s in enumerate(self.spans)]


def union_length(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
