"""Spans around the benchmark's calls into each layer of the package.

Spans are kept in memory and written out once, when the run ends.  A tracer
made with ``enabled=False`` records nothing, so untraced runs pay only a
no-op context manager per layer call.
"""

from __future__ import annotations

import contextlib
import json
import time

from perfbench.stats import self_times


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def layer_self_times(self) -> dict[str, float]:
        """Self time summed per layer (the span name up to its first dot)."""
        out: dict[str, float] = {}
        for name, t in self_times(self.spans).items():
            layer = name.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + t
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
