"""Warehouse query probe: the ``plans/`` and ``sources.batch`` layers.

Traced ingest_live runs make passes over a fixed query mix from
``__spark_entry__.queries()`` on a seeded warehouse, in a seed-shuffled
order, as one closed-loop client. Every execution is compared with its
DuckDB twin from ``__spark_entry__.oracle_sql()``, computed once.
"""

from __future__ import annotations

import os
import random
import sys
import time

import duckdb

import __spark_entry__ as entry
from perfbench import gen
from perfbench.common import Ctx, canon, median
from streaming_data_pipeline_spark.operators import transforms
from streaming_data_pipeline_spark.plans.base import AS_OF
from streaming_data_pipeline_spark.schema import ALL_TABLES
from streaming_data_pipeline_spark.sources import batch

MIX = [
    # reference analytics
    "event_type_rollup",
    "health_check",
    "quality_score_distribution",
    "windowed_counts_60s",
    "top5_latest",
    # TPC-H joins
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q18_large_volume_customer",
    # windows
    "sessionize_events_batch",
    "rolling_weekly_revenue",
]

# 1% of the sf1 row counts (60k lineitem rows)
SCALE = 0.01
# Pass times keep falling for several passes after the JVM starts (JIT);
# the warm-up passes move the timed passes onto the flat part.
WARMUP_PASSES = 2
TIMED_PASSES = 2


def _stage(ctx: Ctx) -> str:
    wh = ctx.fresh_dir("warehouse")
    gen.write_warehouse(ctx.seed, wh, SCALE)
    # no query of the mix reads documents, but register_views loads it
    gen.write_corpus(ctx.seed, os.path.join(wh, "documents.parquet"), 100)
    want = {}
    with duckdb.connect() as con:
        for t in ALL_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(wh, t)}.parquet')")
        oracle = entry.oracle_sql()
        for name in MIX:
            df = con.execute(oracle[name]).fetchdf()
            want[name] = (sorted(df.columns), canon(df))
    ctx.state["want"] = want
    return wh


def _run_pass(ctx: Ctx, wh: str, rng: random.Random) -> float:
    queries = entry.queries()
    order = list(MIX)
    rng.shuffle(order)
    total = 0.0
    for name in order:
        with ctx.tracer.span(f"plans.{name}"):
            s = time.time()
            try:
                got = queries[name](ctx.spark, wh).toPandas()
            except Exception as exc:  # a failed query counts as a failed operation
                ctx.check(False, f"{name}: {exc!r}"[:300])
                continue
            total += time.time() - s
        ctx.check((sorted(got.columns), canon(got)) == ctx.state["want"][name], f"{name}: result differs from its DuckDB twin")
    return total


def _traced_load_table(ctx: Ctx):
    """Rebind ``load_table`` in every program module that imported it,
    so each call the plans make is a span; returns the undo."""
    original = batch.load_table

    def traced(spark, sf_dir, name):
        with ctx.tracer.span(f"batch.load_{name}"):
            return original(spark, sf_dir, name)

    patched = [
        m for n, m in list(sys.modules.items())
        if n.startswith("streaming_data_pipeline_spark") and getattr(m, "load_table", None) is original
    ]
    for m in patched:
        m.load_table = traced

    def undo() -> None:
        for m in patched:
            m.load_table = original

    return undo


def layers(ctx: Ctx) -> None:
    wh = _stage(ctx)
    rng = random.Random(ctx.seed)
    traced, ctx.tracer.enabled = ctx.tracer.enabled, False
    for _ in range(WARMUP_PASSES):
        _run_pass(ctx, wh, rng)
    ctx.tracer.enabled = traced
    undo = _traced_load_table(ctx)
    try:
        passes = [_run_pass(ctx, wh, rng) for _ in range(TIMED_PASSES)]
    finally:
        undo()
    for name in MIX:
        ctx.layer[f"plans.{name}_s"] = ctx.tracer.median_self(f"plans.{name}")
    ctx.layer["plans.pass_s"] = median(passes)
    for table in ("events", "lineitem"):
        ctx.layer[f"batch.load_{table}_s"] = ctx.tracer.median_self(f"batch.load_{table}")
    walls = []
    for _ in range(5):
        with ctx.tracer.span("transforms.enrich_raw_events"):
            s = time.time()
            enriched = transforms.enrich_raw_events(batch.load_table(ctx.spark, wh, "events"), as_of=AS_OF)
            enriched.write.format("noop").mode("overwrite").save()
            walls.append(time.time() - s)
    ctx.layer["transforms.enrich_raw_events_s"] = median(walls)
