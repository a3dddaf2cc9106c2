"""Spans around the benchmark's calls into each layer of ``gcpde_spark``.

The benchmark wraps every public call it makes in ``tracer.span(layer,
call)``. With tracing on, each span records its name, start, end, parent
span and op id in memory; :meth:`Tracer.summary` derives per-layer calls,
busy seconds and self seconds (busy minus the time child spans cover),
and :meth:`Tracer.dump` writes spans and summary out at exit. With tracing
off, :class:`NullTracer` runs the same calls with no bookkeeping, so
end-to-end figures come from untraced runs.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path
from typing import Iterator


class NullTracer:
    """Tracing off: spans cost one generator frame and record nothing."""

    enabled = False

    @contextmanager
    def span(self, layer: str, call: str) -> Iterator[None]:
        yield

    def begin_op(self, op_id: int) -> None:
        pass

    def count(self, name: str, value: float) -> None:
        pass


class Tracer(NullTracer):
    """Tracing on: an in-memory span log plus per-layer counters."""

    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counters: dict[str, list[float]] = {}
        self._stack: list[int] = []
        self._op = -1
        # seconds spent in this class's own bookkeeping
        self.overhead_s = 0.0

    def begin_op(self, op_id: int) -> None:
        self._op = op_id

    @contextmanager
    def span(self, layer: str, call: str) -> Iterator[None]:
        t = time.perf_counter()
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": f"{layer}.{call}",
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op,
            "start": 0.0,
            "end": 0.0,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - rec["end"]

    def count(self, name: str, value: float) -> None:
        """Record one observation of a per-layer count or ratio."""
        self.counters.setdefault(name, []).append(float(value))

    def durations(self, name: str) -> list[float]:
        """Durations of every span called ``name`` (``layer.call``)."""
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def median_s(self, name: str) -> float:
        d = self.durations(name)
        return statistics.median(d) if d else 0.0

    def mean(self, counter: str) -> float:
        v = self.counters.get(counter)
        return statistics.fmean(v) if v else 0.0

    def summary(self) -> dict[str, dict[str, float]]:
        """``{layer: {calls, busy_s, self_s}}`` over every recorded span."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            d = s["end"] - s["start"]
            agg = out.setdefault(s["layer"], {"calls": 0, "busy_s": 0.0, "self_s": 0.0})
            agg["calls"] += 1
            agg["busy_s"] += d
            agg["self_s"] += d - child_s.get(s["id"], 0.0)
        return out

    def dump(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        payload = {
            "summary": self.summary(),
            "counters": self.counters,
            "spans": self.spans,
            **extra,
        }
        path.write_text(json.dumps(payload) + "\n")
