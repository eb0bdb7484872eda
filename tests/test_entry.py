"""The driver contract's query surface (__spark_entry__.py)."""

from __future__ import annotations

import sys

import pytest

import __spark_entry__ as entry


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
