"""In-memory span tracer for the benchmark's traced runs.

Spans are recorded around calls into the engine's public functions from
the benchmark's own files — the engine itself is not modified.  A span
holds (id, name, start, end, parent id, request id, attrs); spans live
in memory and are written out once, when the run ends.

``wrap`` monkeypatches a module or class attribute with a span-recording
wrapper that passes straight through while the tracer is disabled, so
the untraced half of a run pays one attribute check per call.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[dict] = []
        self.enabled = False
        self.request_id: str | None = None
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "start": self.clock(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "request": self.request_id, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield attrs
        finally:
            self._stack.pop()
            rec["end"] = self.clock()

    def wrap(self, owner, attr: str, name: str, attrs_fn=None) -> None:
        """Replace ``owner.attr`` by a traced wrapper (undone by
        ``unwrap_all``).  ``attrs_fn(*args, **kwargs)`` may return extra
        span attributes computed before the call."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            extra = attrs_fn(*args, **kwargs) if attrs_fn else {}
            with tracer.span(name, **extra):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def span_cost(self, n: int = 2000) -> float:
        """Seconds one traced call adds: the wall time of ``n`` calls of a
        wrapped no-op, each recording a span, divided by ``n``.  The
        probe's own spans are dropped again."""
        box = type("Box", (), {"noop": staticmethod(lambda: None)})
        self.wrap(box, "noop", "trace.cost_probe")
        first = len(self.spans)
        enabled, self.enabled = self.enabled, True
        t0 = self.clock()
        for _ in range(n):
            box.noop()
        cost = (self.clock() - t0) / n
        self.enabled = enabled
        del self.spans[first:]
        owner, attr, orig = self._patches.pop()
        setattr(owner, attr, orig)
        return cost

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s, st in zip(self.spans, self_times(self.spans)):
                f.write(json.dumps({**s, "self": st}, default=str) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> list[float | None]:
    """Per span: its duration minus the part of its interval that its
    direct children cover (children clipped to the parent; overlapping
    children counted once).  None for a span that never closed."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: list[float | None] = []
    for s in spans:
        if s["end"] is None:
            out.append(None)
            continue
        lo, hi = s["start"], s["end"]
        kids = [(max(a, lo), min(b, hi)) for a, b in children.get(s["id"], [])
                if min(b, hi) > max(a, lo)]
        out.append((hi - lo) - _covered(kids))
    return out


class JobCounter:
    """Counts the Spark jobs submitted while a block of driver code runs,
    from the DAG scheduler's job-id counter — which also sees jobs that
    other threads submit for the block (streaming micro-batches).  The
    benchmark runs one client, so no unrelated job lands in a count."""

    def __init__(self, sc):
        self._dag = sc._jsc.sc().dagScheduler()

    def total(self) -> int:
        """Jobs submitted so far in this SparkContext."""
        return int(self._dag.nextJobId())

    @contextmanager
    def count(self):
        box = {"jobs": 0}
        start = self.total()
        try:
            yield box
        finally:
            box["jobs"] = self.total() - start
