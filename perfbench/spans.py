"""In-memory spans and counts, recorded around calls into the layers.

A span has a name, start, end, parent and operation id, and a
`counts` dict the caller fills at the same boundary. Nothing is
written until `dump()`, at the end of the run. A disabled tracer keeps the same call sites but
records nothing, so the untraced run pays only a context-manager call.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "op": self.op_id, "start": time.perf_counter(),
               "end": None, "parent": self._stack[-1] if self._stack else None,
               "counts": {}}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus
        the union of its children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            covered, hi = 0.0, s["start"]
            for a, b in sorted(kids.get(i, ())):
                a = max(a, hi)
                if b > a:
                    covered += b - a
                    hi = b
            dur = s["end"] - s["start"] - covered
            out[s["name"]] = out.get(s["name"], 0.0) + dur
        return out

    def dump(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as fh:
            json.dump({
                "spans": [dict(s, start=s["start"] - t0, end=s["end"] - t0)
                          for s in self.spans],
                "self_s": self.self_times()}, fh, indent=1)
