"""In-memory spans, written out when the benchmark ends.

A span has a name, start and end (seconds on the monotonic clock,
relative to the trace's start), the span that caused it, and the trace
id shared by every span of one run. Spans opened with ``counted=True``
carry that span's change in the engine counters.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
import uuid


class Tracer:
    def __init__(self, counters=None):
        self.trace_id = uuid.uuid4().hex
        self.counters = counters
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, counted: bool = False, **attrs):
        """Time the body as a child of the innermost open span. The
        yielded dict collects the span's attributes; ``counted`` adds the
        engine counters of the jobs the body ran."""
        sid = next(self._ids)
        rec = {
            "trace_id": self.trace_id,
            "span_id": sid,
            "parent_id": self._stack[-1] if self._stack else None,
            "name": name,
            "attrs": dict(attrs),
        }
        before = self.counters.snapshot() if counted and self.counters else None
        self._stack.append(sid)
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if before is not None:
                rec["attrs"].update(self.counters.delta(before))
            self.spans.append(rec)

    def wrap(self, fn, name: str):
        """``fn`` with every call recorded as a span named ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def by_name(self, name: str) -> dict:
        return next(s for s in self.spans if s["name"] == name)

    def self_time(self, span: dict) -> float:
        """The span's duration minus the part its children cover."""
        kids = sorted(
            (c["start"], c["end"]) for c in self.spans if c["parent_id"] == span["span_id"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"]) - covered

    def write(self, path: str) -> None:
        rows = sorted(self.spans, key=lambda s: s["start"])
        with open(path, "w") as f:
            for s in rows:
                f.write(json.dumps({**s, "self_s": self.self_time(s)}) + "\n")
