"""In-memory span tracing and the percentile helpers the benchmark reports.

A span is one call into a layer's public function, recorded from the
benchmark's side of the boundary: name, start, end, parent span and the
run id shared by every span of one benchmark run. Spans stay in memory and
are written once, when the run ends. A layer's self time is its span time
minus the part of that interval covered by its child spans.
"""

from __future__ import annotations

import itertools
import json
import math
import threading
import time
import uuid
from contextlib import contextmanager


class Tracer:
    """Records spans when ``enabled``; otherwise every ``span`` is a no-op.

    The parent of a span is the innermost open span of the same thread, so
    spans opened inside a ``foreachBatch`` callback (which runs on a Py4J
    callback thread) nest under that batch's span, not under the main
    thread's."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        span_id = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(span_id)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    {
                        "run_id": self.run_id,
                        "id": span_id,
                        "parent": parent,
                        "name": name,
                        "start": start,
                        "end": end,
                    }
                )

    def write(self, path: str) -> None:
        with self._lock:
            spans = list(self.spans)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": spans}, f)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total = 0.0
    cur_start = cur_end = None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def layer_of(name: str) -> str:
    """``operators.flows_etl.preprocess_flows`` -> ``operators.flows_etl``;
    single-level packages (``session``, ``sources``, ``loadgen``) keep one
    component."""
    parts = name.split(".")
    if parts[0] in ("operators", "ml", "streaming", "functions") and len(parts) > 1:
        return ".".join(parts[:2])
    return parts[0]


def self_times(spans: list[dict]) -> dict[str, dict]:
    """Per layer: number of spans, total span time and self time (span time
    minus the union of its children's intervals, clipped to the span)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, dict] = {}
    for s in spans:
        dur = s["end"] - s["start"]
        kids = [
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in children.get(s["id"], [])
            if b > s["start"] and a < s["end"]
        ]
        row = out.setdefault(layer_of(s["name"]), {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        row["calls"] += 1
        row["total_s"] += dur
        row["self_s"] += dur - _covered(kids)
    return out


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile ``q`` in [0, 100] (numpy's default)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


#: tail percentiles tried, highest first
TAIL_QUANTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def supported_tail(n: int, want: float = 99.0) -> float | None:
    """Highest percentile not above ``want`` that has at least ten samples
    beyond it among ``n`` samples, or None when even the median has fewer."""
    for q in TAIL_QUANTILES:
        if q <= want and n * (100.0 - q) / 100.0 >= 10.0:
            return q
    return None


def tail(values, want: float = 99.0) -> tuple[str, float]:
    """``(label, value)`` of the highest supported tail percentile (see
    :func:`supported_tail`); the maximum when no percentile is supported, so a
    short sample is reported as what it is instead of a p99 it cannot back."""
    q = supported_tail(len(values), want)
    if q is None:
        return "max", max(values)
    return f"p{q:g}", percentile(values, q)
