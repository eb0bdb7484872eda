"""Round-12 optimization guards: simhash lane-packing overflow fix
(ADVICE r11), the hamming-in-join candidate prefilter, and the
declared-sort boundary."""

from __future__ import annotations

import hashlib
import os
import re
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))


def _md5_bit(token: str, b: int) -> int:
    """Bit b of md5(token) under the engine's convention: bit (3 - b%4)
    of hex nibble b//4."""
    h = hashlib.md5(token.encode()).hexdigest()
    nib = int(h[b // 4], 16)
    return (nib >> (3 - b % 4)) & 1


def test_simhash_lane_sum_survives_adversarial_top_lane(spark):
    """ADVICE r11: with 4 packed lanes per sum column, a document whose
    top-lane bit (digest bit ≡ 3 mod 4 in the old layout) was set by
    >32767 distinct tokens pushed the running aggregate past 2^63 — a
    raw ANSI ARITHMETIC_OVERFLOW during aggregation, before the loud
    raise_error guard could fire. The 3-lane packing keeps every
    per-row term < 2^33, so this adversarial document (33k distinct
    tokens ALL setting digest bit 3) must now aggregate cleanly and
    produce exactly the per-bit reference signature."""
    from streaming_data_pipeline_spark.operators.dedup import simhash_packed

    tokens = []
    i = 0
    while len(tokens) < 33000:
        t = f"t{i}"
        if _md5_bit(t, 3):
            tokens.append(t)
        i += 1
    text = " ".join(tokens)
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    [row] = simhash_packed(docs, bits=64).collect()
    word = row["simhash"][0] & ((1 << 64) - 1)

    n = len(tokens)
    expected = 0
    for b in range(64):
        ones = n if b == 3 else sum(_md5_bit(t, b) for t in tokens)
        if 2 * ones > n:
            expected |= 1 << (63 - b)
    assert word == expected


def test_simhash_lane_guard_raises_loudly_past_65535(spark):
    """The 16-bit lane counters bound distinct tokens per document at
    65535; past that the failure must be the raise_error diagnostic
    (reachable for the whole guarded range now that the 3-lane packing
    cannot ANSI-overflow first), never silent lane corruption."""
    from streaming_data_pipeline_spark.operators.dedup import simhash_packed

    text = " ".join(f"w{i}" for i in range(65600))
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    with pytest.raises(Exception, match="65535 distinct tokens"):
        simhash_packed(docs, bits=64).collect()


def _join_conditions(df) -> list[str]:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return [ln for ln in plan.splitlines() if re.match(r"^[\s:+\-]*Join ", ln)]


def test_band_joins_carry_exact_hamming_predicate(spark):
    """The exact-Hamming verify sits in the band join's condition, so
    false candidates die before the distinct's exchange (SCALING_AUDIT
    r11: 6.73M false of 6.88M at 10x). In the optimized plan of both
    SimHash and pHash, a join condition must hold bit_count over the
    xor of the two sides' signature words."""
    from streaming_data_pipeline_spark.operators.dedup import (
        phash_near_dup_pairs,
        simhash_near_dup_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id long, text string"
    )
    sig = spark.createDataFrame(
        [(1, 0xAAAA, 0x5555), (2, 0xAAAB, 0x5555)],
        "doc_id long, h_lo long, h_hi long",
    )
    xor = re.compile(r"bit_count\(\((\w+#\d+)\[\d+\] \^ (\w+#\d+)\[\d+\]\)\)")
    for frame in (simhash_near_dup_pairs(docs), phash_near_dup_pairs(sig)):
        sides = [
            m.groups() for cond in _join_conditions(frame) for m in xor.finditer(cond)
        ]
        assert any(a != b for a, b in sides), _join_conditions(frame)
