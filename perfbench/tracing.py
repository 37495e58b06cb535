"""In-memory spans recorded around calls into the program's layers.

A span is (name, start, end, parent, request id). Spans stay in memory
while the benchmark runs and are written out once, at the end. A layer's
self time is its span's duration minus the part of that interval covered
by its child spans.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass
from pathlib import Path


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    rid: str | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.rid: str | None = None

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.rid))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def write(self, path: Path) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


class NullTracer:
    """Tracing off: the same interface, recording nothing."""

    rid: str | None = None

    def span(self, name: str):
        return nullcontext()


def self_times(spans: list[Span]) -> list[float]:
    """Per span: duration minus the union of its children's intervals,
    clipped to the span."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in sorted(children.get(i, [])):
            a, b = max(a, s.start), min(b, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out.append((s.end - s.start) - covered)
    return out


def layer_table(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per span name: call count, total self seconds, total seconds."""
    table: dict[str, dict[str, float]] = {}
    for s, own in zip(spans, self_times(spans)):
        row = table.setdefault(s.name, {"count": 0, "self_s": 0.0, "total_s": 0.0})
        row["count"] += 1
        row["self_s"] += own
        row["total_s"] += s.end - s.start
    return table


def format_layer_table(table: dict[str, dict[str, float]]) -> str:
    lines = [f"{'span':<40} {'count':>7} {'self_ms':>12} {'self_ms/call':>13} {'total_ms':>12}"]
    for name, row in sorted(table.items(), key=lambda kv: -kv[1]["self_s"]):
        n = row["count"]
        lines.append(
            f"{name:<40} {n:>7d} {row['self_s'] * 1e3:>12.1f} "
            f"{row['self_s'] * 1e3 / n:>13.2f} {row['total_s'] * 1e3:>12.1f}"
        )
    return "\n".join(lines)
