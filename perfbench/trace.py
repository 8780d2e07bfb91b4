"""In-memory spans recorded around the benchmark's calls into the program.

A span has a name, start, end, parent span and operation id. Spans stay in
memory and are written once, when the run ends. Self time is a span's
duration minus the part of it covered by its child spans.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a no-op."""

    def __init__(self, enabled: bool = True) -> None:
        self.enabled = enabled
        # (span_id, name, parent_id, op_id, start_ns, end_ns)
        self.spans: list[tuple[int, str, int | None, int | None, int, int]] = []
        self._stack: list[int] = []
        self._next_id = 0
        self.op_id: int | None = None

    def span(self, name: str):
        return self._span(name) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str):
        sid = self._next_id
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter_ns()
        try:
            yield
        finally:
            end = time.perf_counter_ns()
            self._stack.pop()
            self.spans.append((sid, name, parent, self.op_id, start, end))

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span called ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_times(self) -> dict[str, tuple[float, int]]:
        """name -> (total self seconds, span count)."""
        return self_times(self.spans)

    def write(self, path: str) -> None:
        keys = ("id", "name", "parent", "op", "start_ns", "end_ns")
        with open(path, "w") as f:
            json.dump([dict(zip(keys, s)) for s in self.spans], f)


def self_times(spans) -> dict[str, tuple[float, int]]:
    children: dict[int, list[tuple[int, int]]] = defaultdict(list)
    for _sid, _name, parent, _op, start, end in spans:
        if parent is not None:
            children[parent].append((start, end))
    out: dict[str, list] = defaultdict(lambda: [0, 0])
    for sid, name, _parent, _op, start, end in spans:
        covered, reach = 0, start
        for c_start, c_end in sorted(children.get(sid, ())):
            c_start, c_end = max(c_start, reach), min(c_end, end)
            if c_end > c_start:
                covered += c_end - c_start
                reach = c_end
        out[name][0] += end - start - covered
        out[name][1] += 1
    return {name: (ns / 1e9, n) for name, (ns, n) in out.items()}
