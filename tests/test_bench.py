"""bench.py's timing protocol, driven with a fake query runner: one cold
pass, then two interleaved steady passes whose per-query min is the
published time."""

from __future__ import annotations

import bench


def test_bench_passes_cold_then_two_interleaved_steady():
    names = list(bench.HEADLINE)
    assert len(names) == 122 and len(set(names)) == 122
    assert bench.WARMUP in names
    index = {n: i for i, n in enumerate(names)}
    calls: list[str] = []

    def run(name: str) -> float:
        calls.append(name)
        nth = calls.count(name)  # 1 = cold, 2 = steady pass 1, 3 = pass 2
        if nth == 1:
            return 100.0
        # Half the queries are faster in pass 1, half in pass 2, so the
        # min must look at both samples.
        fast_pass = 2 if index[name] % 2 else 3
        return (1.0 if nth == fast_pass else 2.0) + index[name] / 1000

    steady, cold = bench.run_passes(run, names)

    # One cold call per name, then two full passes in HEADLINE order:
    # a query's two steady samples are a whole pass apart.
    assert calls == names + names + names
    assert list(steady) == names
    assert steady == {n: round(1.0 + index[n] / 1000, 3) for n in names}
    # The warm-up query has already run, so its first timed run is not
    # cold and stays out of cold_queries.
    assert set(cold) == set(names) - {bench.WARMUP}
    assert set(cold.values()) == {100.0}
