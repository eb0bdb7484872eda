"""Bounded-memory sketch operators: two-pass exact heavy hitters.

``heavy_hitters`` finds every item with frequency >= phi * N over an
unbounded item universe in two passes:

1. **Candidate pass (Misra-Gries per partition).** Each partition
   streams its items through a Misra-Gries summary with k = ceil(1/phi)
   counters (Arrow batches into a Python dict — the §2.9 escape hatch;
   memory is O(k) per task no matter how many distinct items flow
   through). MG guarantees every item with local frequency
   > n_p/(k+1) survives its partition's summary; a global heavy hitter
   (freq >= phi*N over N = sum n_p) must, by averaging, have local
   frequency >= phi * n_p >= n_p/(k+1) in at least one partition — so
   the union of partition summaries is a SUPERSET of the true heavy
   hitters. No merge pass is needed: the candidate union is small
   (<= k per partition) by construction.
2. **Exact recount.** One hash aggregate over the items semi-joined to
   the broadcast candidate set, filtered by the exact threshold.

The output is therefore EXACT — identical to a full groupBy+HAVING —
while pass 1 never materializes the full item->count map anywhere. At
100 TB this is the difference between a shuffle keyed by every distinct
token (the token universe of a web corpus does not fit a reducer) and a
shuffle keyed only by ~k*partitions plausible candidates.

Reference anchor: the corpus-frequency screens of SURVEY.md §2.12
(boilerplate/stopword detection feeding the curation ops).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _mg_summaries(items: DataFrame, k: int) -> DataFrame:
    """One pass emitting BOTH per-partition Misra-Gries candidates
    (``rows`` NULL) and one per-partition row-count sentinel (``item``
    NULL) — so :func:`heavy_hitters` derives candidates AND N from a
    single scan of the (possibly expensive, e.g. exploded-ngram) input
    instead of a separate count() pass."""

    def summarize(batches):
        counters: dict = {}
        rows = 0
        for pdf in batches:
            col = pdf.iloc[:, 0]
            rows += int(col.notna().sum())
            for it in col.tolist():
                if it is None:
                    continue
                if it in counters:
                    counters[it] += 1
                elif len(counters) < k:
                    counters[it] = 1
                else:
                    dead = []
                    for key in counters:
                        counters[key] -= 1
                        if counters[key] == 0:
                            dead.append(key)
                    for key in dead:
                        del counters[key]
        cands = list(counters)
        yield pd.DataFrame(
            {"item": cands + [None], "rows": [None] * len(cands) + [rows]}
        )

    return items.mapInPandas(summarize, "item string, rows long")


def heavy_hitters(
    items: DataFrame,
    item_col: str,
    phi: float = 0.002,
) -> DataFrame:
    """All items with frequency >= phi * N, exactly (two-pass MG).

    Returns (item, n, freq) with freq = n/N rounded to 6 places.

    NULL items are excluded from BOTH the candidates and N: counting
    them only in N (the old behavior) inflated the threshold for every
    real item and silently dropped a heavy NULL group — neither a
    'NULLs are a group' nor a 'NULLs don't exist' semantics. The
    contract is now the latter (frequency among non-null items),
    matching how a tokenizer-fed item stream is read."""
    src = items.select(F.col(item_col).cast("string").alias("item")).filter(
        F.col("item").isNotNull()
    )
    k = math.ceil(1.0 / phi)
    # ONE materialized summary pass yields both the candidate set and N
    # (per-partition sentinels) — the input is scanned twice total
    # (summaries + recount), not three times with a separate count().
    summ = _mg_summaries(src, k).localCheckpoint(eager=True)
    cands = summ.filter(F.col("item").isNotNull()).select("item").distinct()
    total = summ.agg(F.sum("rows")).collect()[0][0] or 0
    threshold = phi * total
    return (
        src.join(F.broadcast(cands), "item", "left_semi")
        .groupBy("item")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= F.lit(threshold))
        .select(
            "item",
            "n",
            (F.round(F.col("n") / F.lit(total), 6) + F.lit(0.0)).alias("freq"),
        )
    )
