"""In-memory span recorder for the traced run.

Spans are recorded around calls into the program's layers, from the
benchmark's own files only. They stay in memory until the run ends and
are then written out as JSON lines.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import statistics
import threading
import time
from collections import defaultdict


class Tracer:
    """Records (name, start, end, parent, run id) spans. A disabled
    tracer records nothing, so untraced runs pay only a branch."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            stack.pop()
            self.record(name, start, end, parent=parent, sid=sid, **attrs)

    def record(self, name: str, start: float, end: float, parent: int | None = None, sid: int | None = None, **attrs) -> int:
        """Add a span measured elsewhere (e.g. from streaming progress)."""
        if sid is None:
            sid = next(self._ids)
        span = {"id": sid, "name": name, "start": start, "end": end, "parent": parent, "run": self.run_id}
        if attrs:
            span["attrs"] = attrs
        with self._lock:
            self.spans.append(span)
        return sid

    def self_times(self) -> dict[str, list[float]]:
        """Per span name, each span's duration minus the part of its
        interval that its child spans cover."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, list[float]] = defaultdict(list)
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, cursor), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cursor = b
            out[s["name"]].append(s["end"] - s["start"] - covered)
        return out

    def median_self(self, name: str) -> float:
        vals = self.self_times().get(name)
        return statistics.median(vals) if vals else 0.0

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
