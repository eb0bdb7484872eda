"""Shared pieces of the workloads: the run context, statistics, readers
for the streaming sink's commit log, and the canonical result compare."""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from perfbench.trace import Tracer


@dataclass
class Ctx:
    """Everything one benchmark run shares across its phases."""

    seed: int
    seconds: int
    workdir: str
    tracer: Tracer
    spark: object = None
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)
    state: dict = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        p = os.path.join(self.workdir, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def fresh_dir(self, *parts: str) -> str:
        p = os.path.join(self.workdir, *parts)
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(p)
        return p

    def check(self, ok: bool, what: str) -> bool:
        """Count one attempted operation, failed unless ``ok``."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(what)
        return ok


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile (q in (0, 1]); the sample itself, never an
    interpolation between two samples."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def median(values: list[float]) -> float:
    return statistics.median(values)


def wait_until(cond, timeout_s: float, poll_s: float = 0.05) -> bool:
    end = time.time() + timeout_s
    while time.time() < end:
        if cond():
            return True
        time.sleep(poll_s)
    return cond()


# --------------------------------------------------------------------------
# Streaming sink commit log
# --------------------------------------------------------------------------


def sink_commits(sink_dir: str) -> list[tuple[int, float, list[str]]]:
    """(batch id, commit time, files the batch added) per committed batch,
    read from the file sink's ``_spark_metadata`` log. A batch becomes
    visible to readers when its log entry is written, so the entry's
    mtime is the batch's commit time. Compacted entries repeat earlier
    batches' files; only the new ones are attributed."""
    log_dir = os.path.join(sink_dir, "_spark_metadata")
    entries = []
    for p in glob.glob(os.path.join(log_dir, "*")):
        base = os.path.basename(p)
        stem = base[: -len(".compact")] if base.endswith(".compact") else base
        if stem.isdigit():
            entries.append((int(stem), p))
    seen: set[str] = set()
    out = []
    for batch, p in sorted(entries):
        with open(p) as fh:
            lines = fh.read().splitlines()[1:]  # first line is the log version
        files = [json.loads(line)["path"] for line in lines if line.strip()]
        files = [f[len("file:") :] if f.startswith("file:") else f for f in files]
        new = [f for f in files if f not in seen]
        seen.update(new)
        out.append((batch, os.path.getmtime(p), new))
    return out


def sink_ids(files: list[str]) -> list[str]:
    ids: list[str] = []
    for f in files:
        ids.extend(pq.read_table(f, columns=["id"]).column("id").to_pylist())
    return ids


def sink_file_stats(sink_dir: str) -> tuple[int, int]:
    """(parquet files, bytes) committed to the sink."""
    files = [f for _, _, batch in sink_commits(sink_dir) for f in batch]
    return len(files), sum(os.path.getsize(f) for f in files)


def check_sink_exactly_once(ctx: Ctx, ids: list[str], survivors: set[str], rejects: set[str], what: str) -> None:
    """Every planted survivor lands once and no planted reject lands.
    Counts one attempted operation per planted event."""
    counts: dict[str, int] = {}
    for i in ids:
        counts[i] = counts.get(i, 0) + 1
    missing = sum(1 for s in survivors if counts.get(s, 0) == 0)
    duplicated = sum(1 for s in survivors if counts.get(s, 0) > 1)
    leaked = sum(1 for r in rejects if r in counts)
    unknown = sum(1 for i in counts if i not in survivors and i not in rejects)
    bad = missing + duplicated + leaked + unknown
    ctx.attempted += len(survivors) + len(rejects)
    ctx.failed += bad
    if bad:
        ctx.problems.append(
            f"{what}: missing={missing} duplicated={duplicated} leaked_rejects={leaked} unknown={unknown}"
        )


# --------------------------------------------------------------------------
# Canonical result compare (the verify recipe's order-insensitive form)
# --------------------------------------------------------------------------


def canon(df) -> list[tuple]:
    import pandas as pd

    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        try:
            if v is None or pd.isna(v):
                return "<null>"
        except (TypeError, ValueError):
            pass
        if isinstance(v, float):
            return repr(v + 0.0)
        if isinstance(v, pd.Timestamp):
            return v.isoformat()
        return str(v)

    return sorted(tuple(cell(v) for v in r) for r in df.itertuples(index=False, name=None))
