"""Shared fixtures: one SparkSession per test run + the DuckDB oracle
cross-check helper mirroring the driver's compare (row-count + schema +
order-insensitive value comparison with columns sorted by name)."""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_MID = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from streaming_data_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name="tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_confs={"spark.sql.warehouse.dir": "/tmp/spark-warehouse-tests"},
    )
    yield spark
    spark.stop()


@pytest.fixture()
def duck():
    # FUNCTION-scoped on purpose: a session-scoped connection
    # accumulates buffer memory across ~100 oracle queries and the
    # heavy recursive-closure oracles then die with allocator-level
    # OOM ("Failed to allocate block of 2048 bytes") — observed as
    # order-dependent flakes in full-suite runs next to the Spark JVM.
    # A fresh connection per test releases everything between tests;
    # the explicit memory limit + spill dir keeps the closure CTEs
    # disk-spilling instead of fighting the JVM for the whole box.
    con = duckdb.connect()
    con.execute("SET memory_limit='16GB'")
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    yield con
    con.close()


def oracle_df(con: duckdb.DuckDBPyConnection, sql: str, sf_dir: str) -> pd.DataFrame:
    """Run oracle SQL with the fixture tables registered as views —
    exactly the driver's setup."""
    from streaming_data_pipeline_spark.schema import ALL_TABLES

    for name in ALL_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
        )
    return con.execute(sql).fetchdf()


def _canon_cell(v):
    """Per-cell stringification — the reference semantics every
    column fast path below must reproduce byte-for-byte."""
    import numpy as np

    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ", ".join(_canon_cell(x) for x in v) + "]"
    if v is None or (isinstance(v, float) and pd.isna(v)):
        return "<null>"
    if pd.isna(v) if not isinstance(v, (list, tuple, dict)) else False:
        return "<null>"
    if isinstance(v, float):
        # repr round-trips doubles exactly; -0.0 normalized
        return repr(v + 0.0)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return str(v)


def _canon_col(s: pd.Series) -> list:
    """Column-wise stringification: dtype-dispatched fast paths for the
    primitive kinds (equivalence with _canon_cell guarded by
    tests/test_entry.py::test_canon_column_fast_paths_match_cell),
    per-cell fallback for object/nested columns. The per-cell form cost
    ~40 s alone on the 2.58M-row pair compare in full sf0.1 sweeps."""
    import numpy as np

    if not isinstance(s.dtype, np.dtype):
        # pandas extension dtype (Int64/boolean/...): nulls print as
        # '<NA>' under astype(str) — keep the exact per-cell semantics
        return [_canon_cell(v) for v in s]
    kind = s.dtype.kind
    if kind in ("i", "u", "b"):  # no nulls representable; str() == astype(str)
        return s.astype(str).tolist()
    if s.dtype == np.float64:
        # tolist() yields Python floats; repr(np.float64) == repr(float)
        # for float64 anyway, and +0.0 normalizes -0.0 in both paths.
        # float64 ONLY: narrower floats (float32/float16) widen under
        # tolist() and would repr() the widened value, while _canon_cell
        # str()s the numpy scalar (np.float32 is not a float subclass) —
        # they take the per-cell fallback below.
        return ["<null>" if v != v else repr(v + 0.0) for v in s.tolist()]
    if kind == "M":  # datetime64 — iteration yields pd.Timestamp / NaT
        return ["<null>" if pd.isna(v) else v.isoformat() for v in s]
    return [_canon_cell(v) for v in s]


def canon(df: pd.DataFrame) -> list[tuple]:
    """Canonicalize a result frame: columns sorted by name, every cell
    stringified, rows sorted — the shape the driver's value-hash sees."""
    df = df.reindex(sorted(df.columns), axis=1)
    cols = [_canon_col(df[c]) for c in df.columns]
    return sorted(zip(*cols)) if cols else [() for _ in range(len(df))]


def assert_query_matches_oracle(spark, con, name: str, sf_dir: str):
    """The full driver-style check for one named query."""
    import __spark_entry__ as entrymod

    q = entrymod.queries()[name]
    sql = entrymod.oracle_sql().get(name)
    got = q(spark, sf_dir).toPandas()
    assert sql is not None, f"{name}: no oracle SQL (rows-only check)"
    want = oracle_df(con, sql, sf_dir)
    assert len(got) == len(want), f"{name}: row count {len(got)} != oracle {len(want)}"
    assert sorted(got.columns) == sorted(
        want.columns
    ), f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}"
    g, w = canon(got), canon(want)
    mism = [i for i, (a, b) in enumerate(zip(g, w)) if a != b][:5]
    assert g == w, f"{name}: value mismatch at sorted rows {mism}:\n" + "\n".join(
        f"  spark={g[i]}\n  duck ={w[i]}" for i in mism
    )
