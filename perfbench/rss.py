"""Peak resident memory of this process and its descendants (the Spark
JVM is a child of the Python driver), sampled from /proc."""

from __future__ import annotations

import os
import threading


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_kb(root: int) -> int:
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(_children(pid))
    return total


class RssSampler:
    """Background thread keeping the peak of the tree's summed VmRSS,
    sampled every 200 ms."""

    def __init__(self) -> None:
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        self.peak_kb = max(self.peak_kb, tree_rss_kb(os.getpid()))

    def _run(self) -> None:
        while not self._stop.wait(0.2):
            self._sample()

    def start(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return self.peak_kb / 1024.0
