"""10x scale-growth audit of the near-dup candidate stages (r5 verdict
task 5): measures CANDIDATE-PAIR counts, output pairs, shuffle bytes,
and wall time for the minhash / simhash / containment / phash families
at sf0.1 (5k docs) vs a synthesized 10x table (50k docs), and reports
the growth exponent of each. ~Linear candidate growth validates the
banding design at scale; anything super-linear is called out with its
cause (SCALING.md records the numbers + analysis).

The 10x table preserves the fixture's INTRINSIC duplicate structure
exactly FOR THE TEXT FAMILIES: 10 copies of sf0.1's documents, copy k
transformed by a per-copy alphabet rotation (letters rotated k
positions, digits k mod 10; a bijection on characters). Within a copy
the token-set AND the char-12-gram document-frequency structure are
ISOMORPHIC to the original — the same dup/near-dup pairs, the same
shingle-rarity distribution (a token-suffix perturbation was tried
first and REJECTED: it injects copy-common char-grams that corrupt the
rarest-shingle statistics containment's blocker depends on) — while
across copies tokens and shingles are distinct strings except for rare
rotation coincidences. TEXT true-pair counts therefore grow exactly
10x (linear) by construction, isolating the ALGORITHM's candidate
growth from the data's (the fixture's own sf ladder grows dup-group
sizes with N, so output pairs grow ~quadratically along it — unusable
as the instrument).

The IMAGE (phash) families do NOT get that invariant: PNG pixels are a
pure function of doc_id (the synth pixel formula + dims are periodic
in doc_id with period 256), so identical-image groups SPAN the copies
— group sizes grow ~10x with the corpus and true hamming-0 pairs grow
~100x. The phash rows therefore measure OUTPUT-TOPOLOGY behavior
against super-linear ground truth (exactly the regime where a C(n,2)
pairs listing explodes and star emission stays O(members)); their
growth exponents must be read against the reported
true_hamming0_pairs, not against a linear baseline. The analyzer
reports that ground truth per scale so the attribution is explicit.

Candidate counts come from the production plans themselves via
operators.dedup.CANDIDATE_OBSERVER — the audit runs the same
`queries()` entries the driver sweeps, not a re-implementation (the
simhash128 / phash-star scale options gained their own oracle-checked
queries in round 8, so their rows now run those entries too).

Usage: python tools/scaling_audit.py [out_json]  (default
SCALING_AUDIT.json in the repo root; pass --small to audit
sf0.01 -> sf0.1 instead, the shape the pytest guard uses).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF01 = "/root/testdata/sf0.1"
TENX_DIR = "/tmp/scaling_audit_sf1x10"

def _phash_truth_analyzer(spark, sf_dir, cand_frames) -> dict:
    """Ground-truth structure of the image corpus at this scale:
    identical-dHash group count, largest group, and the C(n,2) pair
    total those groups imply. PNG pixels are doc_id-periodic (period
    256), so on the 10x corpus groups grow ~10x in SIZE and true pairs
    ~100x — reported so the phash growth exponents are read against
    the corpus's own super-linear truth, not a (false) linear
    baseline."""
    from pyspark.sql import functions as F

    from streaming_data_pipeline_spark.operators.multimodal import (
        dhash_png,
        synth_png_payloads,
    )
    from streaming_data_pipeline_spark.sources.batch import spread_small_scan

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    sizes = (
        dhash_png(synth_png_payloads(spread_small_scan(docs, "doc_id")))
        .groupBy("h_lo", "h_hi")
        .agg(F.count("*").alias("n"))
    )
    row = sizes.agg(
        F.count("*").cast("long").alias("groups"),
        F.max("n").cast("long").alias("max_group"),
        (F.sum(F.col("n") * (F.col("n") - 1)) / 2).cast("long").alias("pairs"),
    ).collect()[0]
    return {
        "hash_groups": row["groups"],
        "max_group_size": row["max_group"],
        "true_hamming0_pairs": row["pairs"],
    }


def _simhash_analyzer(bits: int, max_hamming: int = 3):
    """Per-family analyzer: FALSE candidate pairs (exact Hamming >
    max_hamming) among the observed candidates, and — on the copy-
    structured 10x corpus — their attribution to CROSS-COPY (pure
    bucket-exhaustion/birthday collisions: rotated copies share no
    tokens, so cross-copy signatures are independent) vs WITHIN-COPY
    (correlated signatures from the copy's shared vocabulary). The
    birthday term is exactly the cross-copy count; r7 measured it at
    166,606 pairs for 64-bit chunks and ZERO for 128-bit on the same
    50k-doc corpus — the direct proof the 2^32 bucket space kills it
    (the growth EXPONENT alone is uninformative here: within-copy
    false-candidate counts are heavy-tailed across isomorphic copies,
    measured 16k-201k, so a two-point exponent mostly samples that
    dispersion).

    Since r12 the Hamming families (SimHash and pHash) are observed
    AFTER the in-join Hamming predicate of
    operators/dedup._banded_hamming_pairs, so the observed frame holds
    true pairs only and ``false_candidate_pairs`` reads 0 by
    construction; it no longer measures the banding's selectivity."""

    def analyze(spark, sf_dir, cand_frames) -> dict:
        from pyspark.sql import functions as F

        from streaming_data_pipeline_spark.operators.dedup import simhash_packed

        # Candidates carry the PACKED signature (array<bigint> words,
        # operators/dedup.simhash_packed) since r9: Hamming is
        # bit_count(xor) per word, and sig_copy joins on the same
        # packed column the production candidates use.
        ham = sum(
            F.bit_count(F.col("sh_a")[w].bitwiseXOR(F.col("sh_b")[w]))
            for w in range(bits // 64)
        )
        out: dict = {"false_candidate_pairs": 0}
        tenx = "x10" in os.path.basename(sf_dir.rstrip("/"))
        sig_copy = None
        if tenx:
            docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
            per_copy = docs.count() // 10
            # A signature owned by docs in MORE than one copy (empty/
            # null-token docs hash identically under every rotation;
            # rare rotation coincidences) has no copy identity — its
            # pairs go to `false_ambiguous` instead of being collapsed
            # to min(copy), which misclassified them as cross-copy and
            # inflated the birthday term.
            sig_copy = (
                simhash_packed(docs, bits=bits)
                .select(
                    (F.col("doc_id") / per_copy).cast("int").alias("copy"),
                    "simhash",
                )
                .groupBy("simhash")
                .agg(
                    F.when(
                        F.count_distinct("copy") == 1, F.min("copy")
                    ).alias("copy")
                )
                .localCheckpoint(eager=True)
            )
            out["false_cross_copy"] = out["false_within_copy"] = 0
            out["false_ambiguous"] = 0
        for cand in cand_frames:
            fc = cand.filter(ham > max_hamming)
            if sig_copy is None:
                out["false_candidate_pairs"] += fc.count()
                continue
            j = fc.join(
                sig_copy.select(
                    F.col("simhash").alias("sh_a"), F.col("copy").alias("ca")
                ),
                "sh_a",
            ).join(
                sig_copy.select(
                    F.col("simhash").alias("sh_b"), F.col("copy").alias("cb")
                ),
                "sh_b",
            )
            label = (
                F.when(F.col("ca").isNull() | F.col("cb").isNull(), "ambiguous")
                .when(F.col("ca") == F.col("cb"), "within")
                .otherwise("cross")
            )
            counts = {
                r["label"]: r["count"]
                for r in j.select(label.alias("label"))
                .groupBy("label")
                .count()
                .collect()
            }
            out["false_cross_copy"] += counts.get("cross", 0)
            out["false_within_copy"] += counts.get("within", 0)
            out["false_ambiguous"] += counts.get("ambiguous", 0)
            out["false_candidate_pairs"] += sum(counts.values())
        return out

    return analyze


# (label, observer family key, queries() name OR callable(spark, sf_dir),
#  optional analyzer(captured candidate frames) -> extra metrics)
FAMILIES = [
    ("minhash", "minhash", "dedup_near_minhash_lsh", None),
    ("simhash", "simhash", "simhash_near_dup", _simhash_analyzer(64)),
    ("simhash128", "simhash", "simhash128_near_dup", _simhash_analyzer(128)),
    ("containment", "containment", "dedup_containment_pairs", None),
    ("phash", "phash", "image_phash_near_dup", _phash_truth_analyzer),
    ("phash_star", "phash", "image_phash_star_dedup", _phash_truth_analyzer),
]


def build_tenx(spark, src_dir: str, out_dir: str) -> None:
    """10 alphabet-rotated copies of the source documents table (copy 0
    is the identity, i.e. the original rows)."""
    import string

    from pyspark.sql import functions as F

    src = spark.read.parquet(os.path.join(src_dir, "documents.parquet"))
    n = src.count()
    lower, upper, digits = (
        string.ascii_lowercase,
        string.ascii_uppercase,
        string.digits,
    )
    parts = []
    for k in range(10):
        rot = (
            lower[k:] + lower[:k] + upper[k:] + upper[:k] + digits[k:] + digits[:k]
        )
        parts.append(
            src.select(
                (F.col("doc_id") + F.lit(k * n)).alias("doc_id"),
                F.translate(F.col("text"), lower + upper + digits, rot).alias(
                    "text"
                ),
                "lang",
                "source",
                "n_chars",  # length-preserving bijection
            )
        )
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)
    shutil.rmtree(out_dir, ignore_errors=True)
    big.repartition(8).write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet")
    )


def _shuffle_bytes(spark) -> int | None:
    """Cumulative shuffle-write bytes across completed stages (REST)."""
    sc = spark.sparkContext
    base = sc.uiWebUrl
    if not base:
        return None
    try:
        url = f"{base}/api/v1/applications/{sc.applicationId}/stages?status=COMPLETE"
        with urllib.request.urlopen(url, timeout=10) as r:
            stages = json.loads(r.read())
        return sum(int(s.get("shuffleWriteBytes", 0)) for s in stages)
    except Exception:
        return None


def run_family(spark, runner, family: str, sf_dir: str, analyzer=None) -> dict:
    from streaming_data_pipeline_spark.operators import dedup

    import __spark_entry__ as entrymod

    # Accumulate EVERY observer invocation per family: a plan that
    # routes through its candidate stage more than once (e.g. a future
    # multi-stage minhash) must sum, not keep-last — keep-last would
    # silently undercount candidate_pairs. invocations is reported so
    # a surprising multi-fire is visible in the audit output.
    captured: dict[str, list[object]] = {}

    def observer(fam, cand):
        captured.setdefault(fam, []).append(cand)
        return cand

    dedup.CANDIDATE_OBSERVER = observer
    try:
        fn = entrymod.queries()[runner] if isinstance(runner, str) else runner
        df = fn(spark, sf_dir)
        s0 = _shuffle_bytes(spark)
        t0 = time.perf_counter()
        out_pairs = df.count()
        wall = round(time.perf_counter() - t0, 2)
        s1 = _shuffle_bytes(spark)
        cand_frames = captured.get(family, [])
        cand_pairs = (
            sum(f.count() for f in cand_frames) if cand_frames else None
        )
        extra = analyzer(spark, sf_dir, cand_frames) if (analyzer and cand_frames) else {}
    finally:
        dedup.CANDIDATE_OBSERVER = None
    return {
        "candidate_pairs": cand_pairs,
        "observer_invocations": len(cand_frames),
        "output_pairs": out_pairs,
        "shuffle_bytes": (s1 - s0) if (s0 is not None and s1 is not None) else None,
        "wall_sec": wall,
        **extra,
    }


def growth(a, b):
    """Exponent e such that b = a * scale^e for scale=10 (log-log slope);
    None when either side is missing or zero."""
    if not a or not b:
        return None
    return round(math.log(b / a) / math.log(10.0), 2)


def main() -> None:
    small = "--small" in sys.argv
    out_path = next(
        (a for a in sys.argv[1:] if not a.startswith("--")),
        os.path.join(REPO, "SCALING_AUDIT.json"),
    )
    from streaming_data_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name="scaling-audit",
        extra_confs={"spark.ui.enabled": "true"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    if small:
        scales = [("sf0.01", "/root/testdata/sf0.01"), ("sf0.1", SF01)]
    else:
        build_tenx(spark, SF01, TENX_DIR)
        scales = [("sf0.1", SF01), ("sf0.1x10", TENX_DIR)]

    result: dict = {"scales": [s[0] for s in scales], "families": {}}
    for family, obs_key, runner, analyzer in FAMILIES:
        rows = {}
        for label, sf_dir in scales:
            rows[label] = run_family(spark, runner, obs_key, sf_dir, analyzer)
            print(f"{family:12s} {label:9s} {rows[label]}", flush=True)
        lo, hi = rows[scales[0][0]], rows[scales[1][0]]
        rows["growth_exponent"] = {
            k: growth(lo.get(k), hi.get(k))
            for k in (
                "candidate_pairs",
                "output_pairs",
                "shuffle_bytes",
                "wall_sec",
                "false_candidate_pairs",
                "false_cross_copy",
                "false_within_copy",
                "false_ambiguous",
                "true_hamming0_pairs",
            )
            if k in lo
        }
        result["families"][family] = rows
    with open(out_path, "w") as f:
        json.dump(result, f, indent=2)
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
