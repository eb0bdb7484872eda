"""Driver contract (PySpark target): ``entry``, ``queries`` and
``oracle_sql``.

``entry(spark)`` is a smoke check. Each ``queries()[name]`` is checked
against the matching ``oracle_sql()[name]`` run by DuckDB (row count +
schema + order-insensitive value compare): tier-1 does it for every
name at sf0.001/sf0.01, and ``tools/full_sweep.py`` does it for all of
them in one command at any sf dir.

Queries live in streaming_data_pipeline_spark/plans/*; each plans module
exposes a QUERIES dict (Spark callables) and an ORACLE dict (DuckDB SQL
twins). This file only merges them.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_SMOKE_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Full ETL chain (parse -> validate -> enrich -> quality-filter) feeding
    the A1 event-type rollup — the reference's core end-to-end path.
    """
    from streaming_data_pipeline_spark.plans.reference_queries import event_type_rollup

    return event_type_rollup(spark, SF_SMOKE_DIR)


def _plan_modules():
    mods = []
    for name in (
        "analytics_queries",
        "curation_queries",
        "training_queries",
        "llm_queries",
        "streaming_queries",
        "pysource_queries",
        "scale_queries",
        "sql_surface_queries",
        "reference_queries",
        "tpch_queries",
        "tpch_extra_queries",
        "tpch_wide_queries",
    ):
        # Unguarded on purpose: a plan module that fails to import must
        # fail queries() loudly, not drop its names from the surface.
        mods.append(
            __import__(f"streaming_data_pipeline_spark.plans.{name}", fromlist=[name])
        )
    return mods


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2: the plan
    modules' QUERIES dicts, merged."""
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _plan_modules():
        out.update(getattr(mod, "QUERIES", {}))
    return out


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin per query (omitted for the few
    genuinely non-SQL-expressible ops -> driver does rows-only check)."""
    out: dict[str, str] = {}
    for mod in _plan_modules():
        out.update(getattr(mod, "ORACLE", {}))
    return out
