"""In-memory span tracer for the traced benchmark run.

A span is (name, start, end, parent). Spans stay in memory; ``summarize``
turns one traced batch into per-name counters, and ``write_json`` writes
everything once when the run ends. Times are epoch seconds from
``time.time`` so they line up with Spark's stage completion times.

Counters per span name (summed over every call of that name in a batch):

- ``s``: wall time; ``self_s``: wall minus the part covered by child spans
- ``busy_s``: executor run time of Spark stages that completed inside the span
- ``shuffle_write_mb``, ``spill_mb``, ``failed_tasks``: from the same stages
- ``rows_out``: rows of the span's materialised output, when it has one
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_COUNTERS = ("s", "self_s", "busy_s", "shuffle_write_mb", "spill_mb",
                 "failed_tasks", "rows_out")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    rows_out: int = 0


@dataclass
class Stage:
    """One completed Spark stage, as the status API reports it."""
    completed: float  # epoch seconds
    run_s: float  # executor run time, summed over tasks
    shuffle_write_bytes: int
    spill_bytes: int
    failed_tasks: int


@dataclass
class Tracer:
    clock: Callable[[], float] = time.time
    spans: list[Span] = field(default_factory=list)
    _open: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        sp = Span(name, self.clock(), parent=self._open[-1] if self._open else None)
        self.spans.append(sp)
        self._open.append(idx)
        try:
            yield sp
        finally:
            self._open.pop()
            sp.end = self.clock()


def covered(interval: tuple[float, float], parts: list[tuple[float, float]]) -> float:
    """Length of the part of ``interval`` covered by the union of ``parts``."""
    lo, hi = interval
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in parts if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's wall time minus the part its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append((sp.start, sp.end))
    return [
        (sp.end - sp.start) - covered((sp.start, sp.end), children.get(i, []))
        for i, sp in enumerate(spans)
    ]


def summarize(spans: list[Span], stages: list[Stage]) -> dict[str, dict[str, float]]:
    """Per span name: the counters of SPAN_COUNTERS, summed over calls."""
    out: dict[str, dict[str, float]] = {}
    for sp, self_s in zip(spans, self_times(spans)):
        inside = [st for st in stages if sp.start <= st.completed <= sp.end]
        c = out.setdefault(sp.name, dict.fromkeys(SPAN_COUNTERS, 0.0))
        c["s"] += sp.end - sp.start
        c["self_s"] += self_s
        c["busy_s"] += sum(st.run_s for st in inside)
        c["shuffle_write_mb"] += sum(st.shuffle_write_bytes for st in inside) / 1e6
        c["spill_mb"] += sum(st.spill_bytes for st in inside) / 1e6
        c["failed_tasks"] += sum(st.failed_tasks for st in inside)
        c["rows_out"] += sp.rows_out
    return out


def write_json(path: str, batches: list[dict]) -> None:
    """Write every traced batch (spans, stages, summary) in one go."""
    with open(path, "w") as f:
        json.dump(batches, f, indent=1, default=lambda o: o.__dict__)
