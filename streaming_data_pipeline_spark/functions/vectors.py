"""Vector expression helpers for embedding similarity (SURVEY.md §2.12).

Dot products / norms are left-to-right folds over the array with every
element cast to double BEFORE multiplying, so the DuckDB oracle — a
generated explicit `a[1]*b[1] + a[2]*b[2] + ...` chain, which SQL also
evaluates left-to-right in double — produces bit-identical results.

Scale note: these are JVM higher-order-function expressions (no Python),
so brute-force cosine is a single codegen'd projection; the LSH variants
in operators/similarity.py bound the candidate set at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Left fold of pairwise products (both sides cast to double first)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def sign_bucket(v: Column, hyperplanes: list[list[int]]) -> Column:
    """Random-hyperplane LSH bucket: one bit per hyperplane, bit j =
    (dot(v, h_j) >= 0). Hyperplanes are +-1 literals generated from a
    fixed seed in plans (engine-independent by construction)."""
    bits = []
    for h in hyperplanes:
        s = F.aggregate(
            F.zip_with(
                v,
                F.array(*[F.lit(float(c)) for c in h]),
                lambda x, y: x.cast("double") * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(s >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)
