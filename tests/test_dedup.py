"""Dedup operator layer: the MinHash hash family shared by the engine
and its DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import functions as F

# 25 fixed tokens, the size of a typical fixture document's token set.
TOKENS = [f"tok{i}" for i in range(25)]


def _token_slot_hashes(spark):
    """{token: [slot hash 0..31]} through the engine's own expressions."""
    from streaming_data_pipeline_spark.functions.text import (
        MINHASH_K,
        minhash_slot_sql,
    )

    toks = spark.createDataFrame([(t,) for t in TOKENS], "t string").withColumn(
        "x", F.conv(F.substring(F.md5("t"), 1, 7), 16, 10).cast("long")
    )
    rows = toks.select(
        "t", *[F.expr(minhash_slot_sql(j, "x")).alias(f"h{j}") for j in range(MINHASH_K)]
    ).collect()
    return {r.t: [r[f"h{j}"] for j in range(MINHASH_K)] for r in rows}


def test_minhash_slots_pick_different_tokens(spark):
    """Each slot must act as its own permutation: over one token set
    the 32 slot minima come from more than one token. An order-
    preserving slot hash (the old `(A*x + B) div 2^31`) sends every
    slot to the same minimum token, so LSH banding degrades to a single
    MinHash. The signature stage must carry exactly these minima."""
    from streaming_data_pipeline_spark.functions.text import MINHASH_K
    from streaming_data_pipeline_spark.operators.dedup import _minhash_signatures

    per_token = _token_slot_hashes(spark)
    argmins = {min(TOKENS, key=lambda t: per_token[t][j]) for j in range(MINHASH_K)}
    assert len(argmins) >= 2, argmins

    groups = spark.createDataFrame([("g", TOKENS)], "fp string, toks array<string>")
    [sig] = _minhash_signatures(groups, MINHASH_K).collect()
    assert [int(sig[f"h{j}"]) for j in range(MINHASH_K)] == [
        min(per_token[t][j] for t in TOKENS) for j in range(MINHASH_K)
    ]


def test_minhash_oracle_signature_equals_engine_signature(spark):
    """The DuckDB oracle's signature SQL evaluates the same slot hash
    text as the engine, so both produce the same 32 minima."""
    import duckdb

    from streaming_data_pipeline_spark.functions.text import MINHASH_K
    from streaming_data_pipeline_spark.plans.oracle_text import sql_minhash_sig

    per_token = _token_slot_hashes(spark)
    with duckdb.connect() as con:
        [(sig,)] = con.execute(
            f"SELECT {sql_minhash_sig(MINHASH_K)} FROM (SELECT ? AS ts)", [TOKENS]
        ).fetchall()
    assert sig == [min(per_token[t][j] for t in TOKENS) for j in range(MINHASH_K)]
