"""Dedup curation probe: the ``operators.dedup`` layer over a seeded
corpus with planted exact and near-duplicate clusters.

Traced backlog_drain runs time the four public dedup operators here,
each forced to completion, and check each output twice: against the
planted structure, and row for row against its DuckDB twin from
``__spark_entry__.oracle_sql()``, which pins down what the LSH stages may
miss.
"""

from __future__ import annotations

import time
from itertools import combinations

import duckdb

import __spark_entry__ as entry
from perfbench import gen
from perfbench.common import Ctx, median
from streaming_data_pipeline_spark.operators import dedup

# 700 unrelated documents + ~300 planted duplicates (30% of the corpus).
BASE_DOCS = 700
TIMED_JOBS = 1

# (operator, its DuckDB twin among the plans' oracles over `documents`)
STEPS = {
    "exact_groups": ("exact_dedup_groups", "dedup_exact_text"),
    "minhash_pairs": ("minhash_lsh_pairs", "dedup_near_minhash_lsh"),
    "cluster_labels": ("minhash_cluster_labels", "dedup_cluster_components"),
    "simhash_pairs": ("simhash_near_dup_pairs", "simhash_near_dup"),
}


def _pairs(groups) -> set:
    out = set()
    for group in groups:
        out.update(combinations(sorted(group), 2))
    return out


def _twins(ctx: Ctx) -> dict:
    corpus: gen.Corpus = ctx.state["corpus"]
    oracle = entry.oracle_sql()
    with duckdb.connect() as con:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{corpus.path}')")
        rows = {step: con.execute(oracle[twin]).fetchall() for step, (_, twin) in STEPS.items()}
    return {
        "exact_groups": {(keep, n) for _, keep, n in rows["exact_groups"] if n > 1},
        "minhash_pairs": {(a, b) for a, b, _ in rows["minhash_pairs"]},
        "cluster_labels": {(d, c) for d, c, n in rows["cluster_labels"] if n > 1},
        "simhash_pairs": {(a, b) for a, b, _ in rows["simhash_pairs"]},
    }


def job(ctx: Ctx, step_walls: dict[str, list[float]]) -> None:
    """One checked pass of every dedup operator over the corpus."""
    docs = ctx.spark.read.parquet(ctx.state["corpus"].path)
    out = {}
    for step, (fn, _) in STEPS.items():
        with ctx.tracer.span(f"dedup.{step}"):
            s = time.time()
            frame = getattr(dedup, fn)(docs)
            if step == "exact_groups":
                rows = frame.filter("dup_count > 1").select("keep_id", "dup_count").collect()
                out[step] = {(r.keep_id, r.dup_count) for r in rows}
            elif step == "cluster_labels":
                rows = frame.filter("cluster_size > 1").select("doc_id", "cluster_id").collect()
                out[step] = {(r.doc_id, r.cluster_id) for r in rows}
            else:
                out[step] = {(r.id_a, r.id_b) for r in frame.select("id_a", "id_b").collect()}
            step_walls.setdefault(step, []).append(time.time() - s)
    check_outputs(ctx, out)


def check_outputs(ctx: Ctx, out: dict) -> None:
    """Exact groups equal the planted ones; every near-dup cluster and
    pair lies inside one planted cluster; SimHash finds at least every
    planted exact pair; and each output equals its DuckDB twin."""
    corpus: gen.Corpus = ctx.state["corpus"]
    twin = ctx.state["twin"]
    same_cluster, exact_pairs = _pairs(corpus.clusters), _pairs(corpus.exact_groups)
    planted = {(min(g), len(g)) for g in corpus.exact_groups}
    ctx.check(out["exact_groups"] == planted == twin["exact_groups"], "dedup exact groups differ from the planted ones")
    ctx.check(
        out["minhash_pairs"] == twin["minhash_pairs"] and out["minhash_pairs"] <= same_cluster,
        "dedup minhash pairs differ from the twin or cross planted clusters",
    )
    clusters: dict[int, set[int]] = {}
    for doc, cid in out["cluster_labels"]:
        clusters.setdefault(cid, set()).add(doc)
    inside = all(any(c <= p for p in corpus.clusters) for c in clusters.values())
    ctx.check(
        out["cluster_labels"] == twin["cluster_labels"] and inside,
        "dedup clusters differ from the twin or cross planted clusters",
    )
    ctx.check(
        out["simhash_pairs"] == twin["simhash_pairs"] and exact_pairs <= out["simhash_pairs"] <= same_cluster,
        "dedup simhash pairs differ from the twin or miss planted exact pairs",
    )
    ctx.state["dedup.counts"] = {
        "dedup.groups": len(out["exact_groups"]),
        "dedup.verified_pairs": len(out["minhash_pairs"]),
        "dedup.clusters": len(clusters),
        # share of the planted cluster documents that landed in a cluster
        "dedup.cluster_recall": len(out["cluster_labels"]) / sum(len(c) for c in corpus.clusters),
    }


def layers(ctx: Ctx) -> None:
    """One untimed warm-up job, then the timed job(s)."""
    ctx.state["corpus"] = gen.write_corpus(ctx.seed, ctx.path("corpus", "docs.parquet"), BASE_DOCS)
    ctx.state["twin"] = _twins(ctx)
    traced, ctx.tracer.enabled = ctx.tracer.enabled, False
    job(ctx, {})
    ctx.tracer.enabled = traced
    step_walls: dict[str, list[float]] = {}
    for _ in range(TIMED_JOBS):
        job(ctx, step_walls)
    for step in STEPS:
        ctx.layer[f"dedup.{step}_s"] = median(step_walls[step])
    ctx.layer.update({k: float(v) for k, v in ctx.state["dedup.counts"].items()})
