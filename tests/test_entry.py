"""The driver contract's query surface (__spark_entry__.py): whole,
importable without a session, compared cell for cell, and independent
of the shuffle partition count."""

from __future__ import annotations

import os
import sys

import pytest

import __spark_entry__ as entry
from tests.conftest import SF_DIR


def test_query_surface_is_whole_and_fails_loudly(monkeypatch):
    # No query name is defined by two plan modules (a later module's
    # dict would silently shadow the earlier one in the merge).
    owner: dict[str, str] = {}
    for mod in entry._plan_modules():
        for name in getattr(mod, "QUERIES", {}):
            assert name not in owner, (name, owner[name], mod.__name__)
            owner[name] = mod.__name__
    qs, twins = entry.queries(), entry.oracle_sql()
    assert set(qs) == set(owner)
    assert set(qs) == set(twins)
    assert all(isinstance(sql, str) and sql.strip() for sql in twins.values())

    # A plan module that cannot be imported must fail queries(), not
    # drop its names from the surface.
    monkeypatch.setitem(
        sys.modules, "streaming_data_pipeline_spark.plans.tpch_wide_queries", None
    )
    with pytest.raises(ImportError):
        entry.queries()


def test_documented_tools_exist():
    """Every `tools/<name>.py` that the how-to docs tell people to run is
    in the tree. Dated history (CHANGES.md, COVERAGE.md, VERDICT.md,
    OPTIMIZATION_r11.md) may name deleted tools and is not scanned."""
    import re

    repo = os.path.join(os.path.dirname(__file__), "..")
    named = set()
    for doc in ("README.md", "SCALING.md", ".claude/skills/verify/SKILL.md"):
        with open(os.path.join(repo, doc)) as f:
            named |= set(re.findall(r"tools/(\w+)\.py", f.read()))
    assert named
    missing = sorted(n for n in named if not os.path.isfile(os.path.join(repo, "tools", f"{n}.py")))
    assert missing == [], missing


def test_every_package_module_imports_sessionless():
    """A module that imports only when a SparkSession is alive (what
    functions/udafs.py was before the DoubleType fix: pandas_udf(\"double\")
    parses DDL via the active session at decoration time) works inside
    a session-bearing pytest process but fails in a bare interpreter,
    e.g. a tool's. Enforce the invariant at the source: every package
    module must import in a bare interpreter."""
    import subprocess
    import textwrap

    repo = os.path.join(os.path.dirname(__file__), "..")
    code = textwrap.dedent(
        f"""
        import sys, json, pkgutil, importlib
        sys.path.insert(0, {repo!r})
        import streaming_data_pipeline_spark as pkg
        failed = []
        for mi in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
            try:
                importlib.import_module(mi.name)
            except Exception as exc:
                failed.append(f"{{mi.name}}: {{type(exc).__name__}}: {{exc}}")
        print(json.dumps(failed))
        """
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, cwd=repo
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    import json

    failed = json.loads(proc.stdout.strip().splitlines()[-1])
    assert failed == [], failed



def test_canon_column_fast_paths_match_cell():
    """The dtype-dispatched column fast paths in conftest.canon must be
    byte-identical to the per-cell reference on an adversarial frame:
    ints, bools, floats (NaN, ±inf, -0.0, integral), datetimes (NaT),
    strings (None), nested arrays, decimals, and a nullable extension
    dtype. The fast path exists because the per-cell form cost ~40 s
    alone on the 2.58M-row pair compare in full sf0.1 sweeps."""
    import decimal

    import numpy as np
    import pandas as pd

    from tests.conftest import _canon_cell, _canon_col, canon

    df = pd.DataFrame(
        {
            "i": np.array([3, -1, 0, 2**62], dtype="int64"),
            "b": np.array([True, False, True, False]),
            "f": np.array([0.1, float("nan"), -0.0, float("inf")]),
            # narrower float widths must NOT take the float64 fast path:
            # tolist() widens (repr of the widened double) while
            # _canon_cell str()s the numpy scalar (ADVICE r9)
            "f32": np.array([0.1, float("nan"), -0.0, 2.5], dtype="float32"),
            "f16": np.array([0.1, float("nan"), 1.0, -2.0], dtype="float16"),
            "t": pd.to_datetime(
                ["2026-01-02 03:04:05.123456", None, "1999-12-31", "2026-08-16"],
                format="mixed",
            ),
            "s": pd.Series(["x", None, "", "ünïcode"], dtype=object),
            "a": pd.Series(
                [np.array([1.5, 2.0]), [0.5], None, [float("nan")]], dtype=object
            ),
            "d": pd.Series(
                [decimal.Decimal("1.20"), None, decimal.Decimal("-3"), decimal.Decimal("0.0001")],
                dtype=object,
            ),
        }
    )
    for c in df.columns:
        assert _canon_col(df[c]) == [_canon_cell(v) for v in df[c]], c
    # extension dtype goes through the per-cell fallback ('<null>', not '<NA>')
    ext = pd.Series([1, pd.NA, 3], dtype="Int64")
    assert _canon_col(ext) == ["1", "<null>", "3"]
    # whole-frame shape: sorted tuples, columns sorted by name
    got = canon(df)
    ref = sorted(
        tuple(_canon_cell(v) for v in row)
        for row in df.reindex(sorted(df.columns), axis=1).itertuples(
            index=False, name=None
        )
    )
    assert got == ref
    # degenerate shapes
    assert canon(pd.DataFrame({"x": []})) == []
    assert canon(pd.DataFrame(index=range(2))) == [(), ()]



@pytest.mark.parametrize(
    "name",
    [
        "top5_latest",               # top-k: tie boundary would flap
        "heavy_hitter_bigrams",      # count top-k with plausible ties
        "approx_topk_mergeable_tokens",  # sketch: merge-order risk
        "hll_mergeable_sketch_union",    # sketch union: merge-order risk
        "kll_quantile_sketch_check",     # quantile sketch: merge-order risk
        "weighted_sample_docs",      # sampling: seed/partition coupling risk
    ],
)
def test_partitioning_invariance(spark, name):
    """Results must not depend on the shuffle partition count — the
    difference between local[32] and 1000 executors. The classic
    flakiness sources are top-k tie boundaries, merge-order-dependent
    sketches, and partition-coupled sampling; a broader 14-query
    offline audit (round 10) found all deterministic across 7/32/64 —
    this pins the riskiest six in CI. Conf-based (shuffle.partitions is
    runtime-settable), so the shared session is untouched afterwards."""
    import __spark_entry__ as entrymod

    from tests.conftest import canon

    q = entrymod.queries()[name]
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    try:
        base = canon(q(spark, SF_DIR).toPandas())
        for parts in ("7", "64"):
            spark.conf.set(key, parts)
            got = canon(q(spark, SF_DIR).toPandas())
            assert got == base, (
                f"{name} varies with {key}={parts} — would be "
                "nondeterministic across cluster sizes"
            )
    finally:
        spark.conf.set(key, saved)
