"""Round-8 hardening: every package module imports without a live
SparkSession, and the exchange-volume audit stays runnable."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))


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


def test_exchange_audit_smoke(tmp_path):
    """Keep the exchange-volume audit runnable: a 2-query subset via
    the real CLI (own Spark session, REST polling, noop-sink execution,
    classification) must exit 0 with sane rows. Guards the tool's
    import path and REST mechanics, not the exponents — those are the
    committed EXCHANGE_AUDIT.json's job."""
    import json
    import subprocess

    repo = os.path.join(os.path.dirname(__file__), "..")
    out = str(tmp_path / "audit.json")
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(repo, "tools", "exchange_audit.py"),
            out,
            "tpch_q1_pricing_summary",
            "revenue_by_region",
        ],
        capture_output=True,
        text=True,
        cwd=repo,
        timeout=420,
    )
    assert proc.returncode == 0, (proc.stdout[-1500:], proc.stderr[-1500:])
    data = json.load(open(out))
    assert data["summary"]["n"] == 2
    assert data["summary"]["errors"] == []
    assert data["summary"]["flagged"] == []
    for name, row in data["queries"].items():
        assert row["class"] in {
            "zero-exchange",
            "bounded-exchange",
            "small-base",
            "measured",
        }, (name, row)
        assert (row["bytes_sf001"] or 0) >= 0 and (row["bytes_sf01"] or 0) >= 0
