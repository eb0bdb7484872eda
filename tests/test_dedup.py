"""Dedup operator layer: the MinHash hash family shared by the engine
and its DuckDB oracle, the packed SimHash signature, and connected
components over duplicate pairs."""

from __future__ import annotations

import pytest
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


def test_simhash_packed_matches_string_rendering(spark):
    """The packed words and the bit-string are the SAME signature:
    re-rendering the packed array through bin()/lpad must equal
    simhash_sig's output for both widths, and the packed Hamming
    (bit_count of xor) must equal the character-level Hamming."""
    from pyspark.sql import functions as F

    from streaming_data_pipeline_spark.operators.dedup import (
        simhash_packed,
        simhash_sig,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta zeta"),
            (3, "totally different words here now"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    for bits in (64, 128):
        packed = {
            r["doc_id"]: r["simhash"]
            for r in simhash_packed(docs, bits=bits).collect()
        }
        strings = {
            r["doc_id"]: r["simhash"]
            for r in simhash_sig(docs, bits=bits).collect()
        }
        for d, words in packed.items():
            rendered = "".join(format(w & ((1 << 64) - 1), "064b") for w in words)
            assert rendered == strings[d], (bits, d)
        # empty doc -> all-zero signature in both renderings
        assert all(w == 0 for w in packed[4])
        assert strings[4] == "0" * bits
        # cross-check Hamming: packed xor+bit_count == char-level count
        for a, b in [(1, 2), (1, 3)]:
            char_ham = sum(
                x != y for x, y in zip(strings[a], strings[b])
            )
            packed_ham = sum(
                bin((wa & ((1 << 64) - 1)) ^ (wb & ((1 << 64) - 1))).count("1")
                for wa, wb in zip(packed[a], packed[b])
            )
            assert char_ham == packed_ham, (bits, a, b)



def test_simhash_width64_chunks_now_allowed(spark):
    """chunks=2/bits=128 (width 64 = one whole packed word per chunk)
    is legal under the packed representation (the old 62-bit conv()
    limit is gone); pigeonhole still caps max_hamming at chunks-1."""
    from streaming_data_pipeline_spark.operators.dedup import (
        simhash_near_dup_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "x y z w q")],
        "doc_id long, text string",
    )
    rows = simhash_near_dup_pairs(
        docs, chunks=2, max_hamming=1, bits=128
    ).collect()
    assert {(r["id_a"], r["id_b"], r["hamming"]) for r in rows} == {(1, 2, 0)}



def test_cc_propagation_rounds_parameter_escalates_depth():
    """ADVICE r9: _cc_propagation_sql's doubling-round count is now a
    parameter. Prove the escalation contract on a path graph of
    diameter 40 (DuckDB-only, no Spark), and pin the TRUE reach bound
    this test discovered — reach after k rounds is 2^(k-1), NOT 2^k
    (round 1 only reaches direct neighbors because label-of-label is
    still the identity): the default rounds=6 (reach 32 < 40) must keep
    moving in the certificate round — the loud-failure signal the
    sentinel keys on — and rounds=7 (reach 64 >= 40) must converge with
    every node carrying the component minimum."""
    import duckdb

    from streaming_data_pipeline_spark.plans.llm_queries import (
        _cc_propagation_sql,
    )

    con = duckdb.connect()
    n = 41  # path 1-2-...-41: diameter 40, single component, min label 1
    con.execute(
        "CREATE TABLE e_raw AS SELECT i AS src, i + 1 AS dst "
        f"FROM range(1, {n}) t(i)"
    )
    l0 = f"SELECT i AS node, i AS lbl, 0 AS touched FROM range(1, {n + 1}) t(i)"

    def run(rounds: int):
        sql = f"""
WITH edges AS (SELECT src, dst FROM e_raw UNION ALL SELECT dst, src FROM e_raw),
{_cc_propagation_sql(l0, rounds=rounds)}
SELECT CAST(SUM(CASE WHEN nx.lbl <> f.lbl THEN 1 ELSE 0 END) AS BIGINT) AS moved,
       CAST(MIN(nx.lbl) AS BIGINT) AS min_lbl,
       CAST(MAX(nx.lbl) AS BIGINT) AS max_lbl,
       CAST(MAX(nx.node - nx.lbl) AS BIGINT) AS reach
FROM l{rounds + 1} nx JOIN l{rounds} f USING (node)
"""
        return con.execute(sql).fetchone()

    for rounds in (2, 6):
        moved, _, _, reach = run(rounds)
        assert moved > 0, (
            f"rounds={rounds} (reach {2 ** (rounds - 1)} < 40) must keep "
            "moving in the certificate round (the sentinel's trigger) — "
            "silent convergence would mean the escalation contract is broken"
        )
        # the certificate round is round rounds+1, so reach = 2^rounds,
        # saturating at the graph's own diameter
        assert reach == min(2**rounds, n - 1), (rounds, reach)
    moved, min_lbl, max_lbl, _ = run(7)
    assert moved == 0
    assert (min_lbl, max_lbl) == (1, 1), "all nodes must carry the component min"



def test_connected_components_max_iter_exhaustion_is_loud(spark):
    """The Pregel-loop scale path must never return still-moving labels
    silently (the Spark-side analog of the oracle's fixpoint sentinel):
    an insufficient max_iter budget raises, and a sufficient one yields
    exactly the union-find fast path's labels on the same graph."""
    from pyspark.sql import functions as F

    from streaming_data_pipeline_spark.operators.dedup import (
        connected_components,
    )

    n = 32  # path 1-...-32: diameter 31
    edges = spark.range(1, n).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    nodes = spark.range(1, n + 1).select(F.col("id").alias("node"))
    with pytest.raises(RuntimeError, match="max_iter"):
        # unionfind_max_nodes=0 forces the loop path; 1 round cannot
        # cover diameter 31
        connected_components(edges, nodes, max_iter=1, unionfind_max_nodes=0)
    got = {
        (r["node"], r["label"])
        for r in connected_components(
            edges, nodes, unionfind_max_nodes=0
        ).collect()
    }
    want = {
        (r["node"], r["label"])
        for r in connected_components(edges, nodes).collect()  # union-find
    }
    assert got == want
    assert got == {(i, 1) for i in range(1, n + 1)}
