"""In-memory span recorder for the traced benchmark pass.

A span is one timed call into a layer: its name is ``<layer>.<call>``, it
carries the id of the benchmark operation it belongs to and the id of the
span that was open when it started. Spans stay in memory until the run
writes them out. :class:`NoTrace` is the recorder of untraced passes.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from typing import Dict, List, Optional


class NoTrace:
    """Recorder that records nothing (end-to-end passes)."""

    enabled = False

    @contextmanager
    def span(self, name: str, op: Optional[str] = None):
        yield None


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: List[dict] = []
        self._stack: List[dict] = []

    @contextmanager
    def span(self, name: str, op: Optional[str] = None):
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self, spans: Optional[List[dict]] = None) -> Dict[str, float]:
        """Seconds per layer spent in that layer's spans and not in their
        child spans (children run inside the parent's interval)."""
        spans = self.spans if spans is None else spans
        child = {}
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + (s["end"] - s["start"])
        out: Dict[str, float] = {}
        for s in spans:
            layer = s["name"].split(".", 1)[0]
            own = (s["end"] - s["start"]) - child.get(s["id"], 0.0)
            out[layer] = out.get(layer, 0.0) + own
        return out
