"""In-memory span recorder used by the traced run.

Spans are recorded from the benchmark's own files, around its calls
into each layer of the program. Each span has a name, a start and end
on ``time.perf_counter``, the id of the span that caused it and an
optional request or batch id. Times are ``time.monotonic()`` readings,
one clock across processes, so spans stamped by the load generator nest
with spans recorded here. Spans stay in memory and are dumped when the
run ends. With tracing off, ``span`` returns a shared no-op
context manager, so the untraced run pays one attribute lookup.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from contextlib import nullcontext

_NULL = nullcontext()


class Span:
    __slots__ = ("tracer", "sid", "name", "parent", "tag", "start", "end")

    def __init__(self, tracer: "Tracer", sid: int, name: str, parent: int | None, tag) -> None:
        self.tracer, self.sid, self.name, self.parent, self.tag = tracer, sid, name, parent, tag
        self.start = self.end = 0.0

    def __enter__(self) -> "Span":
        self.tracer._stack().append(self.sid)
        self.start = time.monotonic()
        return self

    def __exit__(self, *exc) -> None:
        self.end = time.monotonic()
        self.tracer._stack().pop()
        self.tracer._record(self)


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[tuple] = []  # (sid, name, start, end, parent, tag)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, tag=None):
        if not self.enabled:
            return _NULL
        with self._lock:
            self._next += 1
            sid = self._next
        st = self._stack()
        return Span(self, sid, name, st[-1] if st else None, tag)

    def _record(self, s: Span) -> None:
        with self._lock:
            self.spans.append((s.sid, s.name, s.start, s.end, s.parent, s.tag))

    def add(self, name: str, start: float, end: float, tag=None, parent: int | None = None) -> int:
        """Record a span measured elsewhere (e.g. in the client process);
        returns its id."""
        with self._lock:
            self._next += 1
            if self.enabled:
                self.spans.append((self._next, name, start, end, parent, tag))
            return self._next

    def adopt(self, parent: int, start: float, end: float, names: set[str], since: int = 0) -> None:
        """Make ``parent`` the parent of the parentless spans named in
        ``names`` that lie within [start, end] — for spans recorded on
        another thread than the one their cause ran on."""
        with self._lock:
            for i in range(since, len(self.spans)):
                sid, name, s, e, par, tag = self.spans[i]
                if par is None and name in names and start <= s and e <= end and sid != parent:
                    self.spans[i] = (sid, name, s, e, parent, tag)

    def durations(self, name: str, since: int = 0) -> list[float]:
        """Durations of the spans called ``name`` recorded after the first
        ``since`` spans (a count taken with ``len(tracer.spans)``)."""
        return [e - s for _, n, s, e, _, _ in self.spans[since:] if n == name]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the union of the
        intervals its child spans cover."""
        return {name: sum(v) for name, v in self_time_by_span(self.spans).items()}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, name, s, e, parent, tag in self.spans:
                f.write(json.dumps({"id": sid, "name": name, "start": s, "end": e,
                                    "parent": parent, "tag": tag}) + "\n")


def _union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time_by_span(spans: list[tuple]) -> dict[str, list[float]]:
    """Self time of every span, grouped by span name."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for _, _, s, e, parent, _ in spans:
        if parent is not None:
            kids[parent].append((s, e))
    out: dict[str, list[float]] = defaultdict(list)
    for sid, name, s, e, _, _ in spans:
        out[name].append((e - s) - _union_length(kids.get(sid, []), s, e))
    return out
