"""In-memory spans recorded around calls into the engine's modules.

A span has a name (``<layer>.<call>``), start, end, the span that
caused it and the operation it belongs to. Self time is the span's
duration minus the part of it its child spans cover. Nothing here
reaches into the package: spans wrap public calls made by the
benchmark's own code.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    rows: int | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans; ``enabled=False`` makes ``span`` a no-op that
    still yields a usable (unrecorded) Span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = -1

    def begin_operation(self) -> None:
        self.op += 1

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield Span(name, self.op, None, 0.0)
            return
        sp = Span(name, self.op, self._stack[-1] if self._stack else None,
                  time.perf_counter())
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> list[float]:
        """Self time of every span, index-aligned with ``spans``."""
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        out = []
        for i, sp in enumerate(self.spans):
            covered, reach = 0.0, sp.start
            for ch in sorted(children.get(i, []), key=lambda c: c.start):
                s, e = max(ch.start, reach), min(ch.end, sp.end)
                if e > s:
                    covered += e - s
                    reach = e
            out.append(sp.duration - covered)
        return out

    def per_operation(self, name: str, value: str = "self") -> list[float]:
        """Per-operation totals of one span name: its summed self time
        (``value="self"``) or its summed row counts (``"rows"``)."""
        selfs = self.self_times()
        acc: dict[int, float] = {}
        for sp, st in zip(self.spans, selfs):
            if sp.name != name:
                continue
            v = st if value == "self" else float(sp.rows or 0)
            acc[sp.op] = acc.get(sp.op, 0.0) + v
        return [acc[k] for k in sorted(acc)]

    def dump(self) -> list[dict]:
        selfs = self.self_times()
        return [{"name": sp.name, "op": sp.op, "parent": sp.parent,
                 "start": sp.start, "end": sp.end, "self_s": st,
                 "rows": sp.rows} for sp, st in zip(self.spans, selfs)]
