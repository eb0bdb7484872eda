"""Round-7 hardening: ADVICE fixes (legacy compaction scratch names,
_wm timezone-mutation warning) plus this round's new options.
"""

from __future__ import annotations

import os
import warnings

import pytest
from pyspark.sql import functions as F


# ----------------------------------------------- legacy compaction --


def _write_partition(spark, base: str, day: str, n_files: int) -> None:
    (
        spark.range(100)
        .withColumn("date", F.lit(day))
        .repartition(n_files)
        .write.mode("append")
        .parquet(os.path.join(base, f"date={day}"))
    )


def test_compaction_sweeps_legacy_bare_scratch_dirs(spark, tmp_path):
    """Upgrade safety: a pre-dot-prefix release left BARE
    `date=X.compact_old` / `.compact_tmp` dirs on crash. Those match
    Spark partition discovery (bogus partition value -> every row
    duplicated), so the recovery pre-pass must sweep them with the
    same restore/drop rules as the dot-prefixed names."""
    from streaming_data_pipeline_spark.operators.maintenance import (
        compact_partitioned_sink,
    )

    base = str(tmp_path / "sink")
    _write_partition(spark, base, "2020-01-01", 6)
    pdir = os.path.join(base, "date=2020-01-01")

    # legacy crash MID-SWAP: partition parked under the bare old name
    legacy_old = os.path.join(base, "date=2020-01-01.compact_old")
    os.rename(pdir, legacy_old)
    report = compact_partitioned_sink(spark, base, "date", target_bytes=1)
    assert os.path.isdir(pdir) and not os.path.exists(legacy_old)
    assert spark.read.parquet(base).count() == 100
    assert [r["partition"] for r in report] == ["date=2020-01-01"]

    # legacy crash AFTER the swap: stale bare old copy alongside the
    # live partition — without the sweep this reads as a second
    # partition and duplicates all 100 rows
    os.makedirs(legacy_old)
    with open(os.path.join(legacy_old, "part-junk.parquet"), "wb") as f:
        f.write(b"PAR1 not really parquet")
    compact_partitioned_sink(spark, base, "date", target_bytes=1)
    assert not os.path.exists(legacy_old)
    assert spark.read.parquet(base).count() == 100

    # legacy aborted rewrite: bare tmp dir must be dropped, not listed
    legacy_tmp = os.path.join(base, "date=2020-01-01.compact_tmp")
    os.makedirs(legacy_tmp)
    with open(os.path.join(legacy_tmp, "part-junk.parquet"), "wb") as f:
        f.write(b"PAR1 junk")
    report = compact_partitioned_sink(spark, base, "date", target_bytes=1)
    assert not os.path.exists(legacy_tmp)
    assert [r["partition"] for r in report] == ["date=2020-01-01"]
    assert spark.read.parquet(base).count() == 100


# ------------------------------------------------- _wm tz mutation --


def test_wm_warns_before_overwriting_non_utc_session_tz(spark):
    from streaming_data_pipeline_spark.streaming.windows import _wm

    df = spark.range(3).select(
        F.timestamp_seconds(F.col("id") * 60).cast("timestamp_ntz").alias("timestamp")
    )
    prior = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        with pytest.warns(UserWarning, match="pin spark.sql.session.timeZone=UTC"):
            _wm(df, "timestamp", "2 minutes")
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"

        # already-UTC session: silent (no spurious warning on every plan)
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            _wm(df, "timestamp", "2 minutes")
    finally:
        spark.conf.set("spark.sql.session.timeZone", prior)


# ------------------------------------------- shared rule/SQL text --


def test_gopher_rule_pass_is_flag_complement(spark):
    """gopher_rule_pass must be exactly the complement of "any flag
    set" — the linear gate's calibration depends on it matching the
    report query's flags."""
    from streaming_data_pipeline_spark.functions.quality_rules import (
        gopher_flag_cols,
        gopher_rule_pass,
    )

    stats = spark.range(4000).select(
        (F.pmod(F.col("id") * 37 + 11, 160) + 1).alias("n_words"),
        (F.pmod(F.col("id") * 53 + 7, 120) + 1).alias("n_types"),
        (F.pmod(F.col("id") * 101 + 3, 900) + 1).alias("chars"),
        (F.pmod(F.col("id") * 17 + 5, 40) + 1).alias("mx"),
    )
    flags_vs_pass = stats.select(
        *gopher_flag_cols(), gopher_rule_pass().alias("p")
    ).select(
        (
            (F.col("f_wc") + F.col("f_mwl") + F.col("f_ttr") + F.col("f_dom") == 0)
            == F.col("p")
        ).alias("agree")
    )
    assert flags_vs_pass.filter(~F.col("agree")).count() == 0


def test_banding_oracles_are_generated_not_inlined():
    """The two LSH pair oracles must come verbatim from the shared
    generator (one copy of the banding SQL), and the module sources
    must not re-inline the tokenizer fragment the shared module owns."""
    import glob
    import os as _os

    from streaming_data_pipeline_spark.plans import llm_queries as lq
    from streaming_data_pipeline_spark.plans.oracle_text import (
        DUCK_TOKS,
        sql_minhash_pair_oracle,
    )

    assert lq.ORACLE["dedup_near_minhash_lsh"] == sql_minhash_pair_oracle(
        lq._DTOKS, threshold=0.8
    )
    assert lq.ORACLE["dedup_ngram_jaccard"] == sql_minhash_pair_oracle(
        lq._SHINGLES, threshold=0.8
    )
    # estimator-error oracle shares the same banding CTE chain
    from streaming_data_pipeline_spark.plans.oracle_text import (
        sql_minhash_banding_ctes,
    )

    assert sql_minhash_banding_ctes(32, 8) in lq.ORACLE["dedup_minhash_estimate_error"]

    plans_dir = _os.path.dirname(lq.__file__)
    offenders = []
    for path in glob.glob(_os.path.join(plans_dir, "*.py")):
        if _os.path.basename(path) == "oracle_text.py":
            continue
        src = open(path).read()
        if f'_TOKS = "{DUCK_TOKS}"' in src or f"_TOKS = '{DUCK_TOKS}'" in src:
            offenders.append(_os.path.basename(path))
    assert offenders == [], f"re-inlined tokenizer in {offenders}"


def test_gopher_predicates_single_spark_copy():
    """No plans module may re-inline the Gopher flag predicates — the
    streaming parity proof is only a proof if batch and streaming
    share one definition."""
    import glob
    import os as _os

    from streaming_data_pipeline_spark import plans as plans_pkg

    plans_dir = _os.path.dirname(plans_pkg.__file__)
    offenders = []
    for path in glob.glob(_os.path.join(plans_dir, "*.py")):
        src = open(path).read()
        # the dominance rule's Spark spelling, modulo spacing
        flat = src.replace(" ", "")
        if '8*F.col("mx")>F.col("n_words")' in flat:
            offenders.append(_os.path.basename(path))
    assert offenders == [], f"re-inlined gopher predicates in {offenders}"


# -------------------------------------------- simhash 128-bit opt --


def test_simhash128_extends_simhash64_prefix(spark):
    """Both widths decode the SAME md5 bits, so the 128-bit signature's
    first 64 chars must equal the 64-bit signature exactly."""
    from streaming_data_pipeline_spark.operators.dedup import simhash_sig

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta"), (3, "")],
        "doc_id long, text string",
    )
    s64 = {r.doc_id: r.simhash for r in simhash_sig(docs, bits=64).collect()}
    s128 = {r.doc_id: r.simhash for r in simhash_sig(docs, bits=128).collect()}
    assert all(len(v) == 128 for v in s128.values())
    assert all(s128[k][:64] == s64[k] for k in s64)


def test_simhash_width_guards(spark):
    from streaming_data_pipeline_spark.operators.dedup import (
        simhash_near_dup_pairs,
        simhash_sig,
    )

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="64 or 128"):
        simhash_sig(docs, bits=96)
    with pytest.raises(ValueError, match="does not divide the 128-bit"):
        simhash_near_dup_pairs(docs, chunks=5, max_hamming=3, bits=128)
    # width 128 would straddle the packed 64-bit words (chunks=1 is the
    # only way to reach it: max_hamming must then be 0 by pigeonhole)
    with pytest.raises(ValueError, match="exceeds 64 bits"):
        simhash_near_dup_pairs(docs, chunks=1, max_hamming=0, bits=128)


def test_simhash128_finds_duplicate_pairs(spark):
    """Exact duplicates must pair at hamming 0 under the 128-bit
    width, and near-identical docs must still band together."""
    from streaming_data_pipeline_spark.operators.dedup import (
        simhash_near_dup_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog " * 3
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),  # exact dup of 1
            (3, base + "extra"),  # near dup
            (4, "completely different words entirely unrelated text"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_dup_pairs(docs, bits=128).collect()
    }
    assert pairs.get((1, 2)) == 0
    assert (1, 4) not in pairs and (2, 4) not in pairs


# --------------------------------------------- phash star option --


def test_phash_star_emission_is_group_size_bound(spark):
    """A group of n identical hashes must emit n-1 canonical->member
    edges under emit='star' (vs C(n,2) under 'pairs'), and cross-group
    near-dup links must appear exactly once, between canonicals."""
    from streaming_data_pipeline_spark.operators.dedup import (
        phash_near_dup_pairs,
    )

    n = 60
    rows = [(i, 0xAAAA, 0x5555) for i in range(n)]  # one big group
    rows += [(1000, 0xAAAB, 0x5555)]  # hamming 1 from the group hash
    rows += [(2000, 0x0F0F, 0xF0F0)]  # far away: no links
    sig = spark.createDataFrame(rows, "doc_id long, h_lo long, h_hi long")

    star = phash_near_dup_pairs(sig, emit="star").collect()
    within = [r for r in star if r.hamming == 0]
    cross = [r for r in star if r.hamming > 0]
    assert len(within) == n - 1  # NOT C(n,2) = 1770
    assert all(r.id_a == 0 for r in within)  # canonical = min id
    assert [(r.id_a, r.id_b, r.hamming) for r in cross] == [(0, 1000, 1)]
    assert not any(r.id_a == 2000 or r.id_b == 2000 for r in star)

    pairs = phash_near_dup_pairs(sig, emit="pairs").collect()
    assert len([r for r in pairs if r.hamming == 0]) == n * (n - 1) // 2

    with pytest.raises(ValueError, match="emit"):
        phash_near_dup_pairs(sig, emit="clique")


# ------------------------------------------ reader-during-vacuum --


def test_reader_mid_read_survives_vacuum_of_superseded_file(tmp_path):
    """PROOF of the supersession-age retention guarantee (argued from
    the tombstone clock in r6, measured here): a reader that resolved
    its snapshot while a file was still referenced keeps reading that
    file to completion across a vacuum with min_age_seconds >= reader
    duration — the first vacuum only records the tombstone, and the
    file falls only once the window has truly elapsed."""
    import json
    import time

    from streaming_data_pipeline_spark.sources import wire_sink

    path = str(tmp_path / "sink")
    os.makedirs(os.path.join(path, "_staging"), exist_ok=True)

    def commit(fname: str, rows: list[dict], key: str) -> None:
        with open(os.path.join(path, "_staging", fname), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        wire_sink._promote(
            path, [wire_sink._Staged(filename=fname, rows=len(rows))], ledger_key=key
        )

    rows_v1 = [{"k": i} for i in range(50)]
    commit("part-epoch0-v1.jsonl", rows_v1, key="epoch-0")

    # reader resolves its snapshot and starts consuming v1
    snapshot = wire_sink.committed_files(path)
    assert snapshot == [os.path.join(path, "part-epoch0-v1.jsonl")]
    reader = open(snapshot[0])
    consumed = [json.loads(reader.readline()) for _ in range(25)]  # mid-read

    # the epoch is replayed: v2 supersedes v1 under the SAME ledger key
    commit("part-epoch0-v2.jsonl", [{"k": i, "v": 2} for i in range(50)], "epoch-0")

    # vacuum while the reader is mid-read: window >> reader duration
    res = wire_sink.vacuum(path, min_age_seconds=30.0)
    assert res["data_files_retained"] == 1 and res["data_files_deleted"] == 0
    assert os.path.exists(snapshot[0])

    # the mid-flight read COMPLETES against the retained file
    consumed += [json.loads(line) for line in reader]
    reader.close()
    assert consumed == rows_v1

    # fresh readers resolve only v2
    assert wire_sink.committed_files(path) == [
        os.path.join(path, "part-epoch0-v2.jsonl")
    ]

    # once the window elapses past the SUPERSESSION time, v1 falls
    time.sleep(0.8)
    res = wire_sink.vacuum(path, min_age_seconds=0.7)
    assert res["data_files_deleted"] == 1
    assert not os.path.exists(snapshot[0])
    assert os.path.exists(os.path.join(path, "part-epoch0-v2.jsonl"))


# ------------------------------------- clustered-fixture recall --


def _mog_embeddings(spark, n=2000, dim=64, n_clusters=8, seed=7):
    """Mixture-of-Gaussians embedding table: 8 well-separated centers
    (+-10 per coordinate), unit within-cluster noise. vec_id i belongs
    to cluster i % 8, so vec_ids 0..7 (the IVF centroid seeds) cover
    every cluster and probes 0..4 sit in distinct clusters."""
    import random

    rng = random.Random(seed)
    centers = [
        [rng.choice((-10.0, 10.0)) for _ in range(dim)] for _ in range(n_clusters)
    ]
    rows = []
    for i in range(n):
        c = centers[i % n_clusters]
        rows.append((i, [x + rng.gauss(0.0, 1.0) for x in c]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ann_tiers_at_clustered_operating_point(spark):
    """The near-isotropic fixture is the HARDEST case for sign-hash LSH
    (true-neighbor cosine ~0.25 -> per-plane p ~0.6); this is the
    realistic one: clustered embeddings, where the measured recalls
    justify the tier-selection table's 'on clustered corpora p rises'
    claims. Floors are deliberately below the measured values (~1.0 /
    ~1.0 / ~0.9 / ~1.0) to absorb seed sensitivity."""
    from streaming_data_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        lsh_topk,
        multiprobe_lsh_topk,
        multitable_lsh_topk,
    )

    emb = _mog_embeddings(spark).cache()
    probes = emb.filter(F.col("vec_id") < 5)
    k = 10

    def recall(tier_df, truth):
        hits = tier_df.select("probe_id", "cand_id").intersect(truth).count()
        return hits / (5 * k)

    truth = brute_force_topk(emb, probes, k=k).select("probe_id", "cand_id").cache()
    assert truth.count() == 5 * k

    r_single = recall(lsh_topk(emb, probes, k=k), truth)
    r_multi = recall(multiprobe_lsh_topk(emb, probes, k=k), truth)
    r_tables = recall(multitable_lsh_topk(emb, probes, k=k), truth)
    r_ivf = recall(ivf_topk(emb, probes, k=k, n_centroids=8, nprobe=2), truth)

    # clustered floors (vs isotropic-fixture ~0.02/0.22/0.55/0.94)
    assert r_single >= 0.3, r_single
    assert r_multi >= r_single, (r_multi, r_single)
    assert r_tables >= 0.8, r_tables
    assert r_ivf >= 0.9, r_ivf
    print(
        f"clustered recalls: single={r_single} multiprobe={r_multi} "
        f"multitable={r_tables} ivf={r_ivf}"
    )
    emb.unpersist()
    truth.unpersist()


def test_simhash128_zero_cross_copy_collisions_at_ci_scale(spark, tmp_path):
    """CI-size version of the r7 birthday-term attribution: on the
    rotation-constructed 10x corpus (500 -> 5,000 docs), the 128-bit
    simhash path must produce ZERO cross-copy false candidates (rotated
    copies share no tokens, so any cross-copy candidate could only be a
    bucket collision — the birthday term the 2^32 chunk space kills)."""
    import sys as _sys

    _sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from scaling_audit import _simhash_analyzer, build_tenx, run_family

    tenx = str(tmp_path / "docs_x10")  # name must mark the copy structure
    build_tenx(spark, "/root/testdata/sf0.01", tenx)
    # the audit runs the REGISTERED query (no re-implementation drift)
    row = run_family(
        spark, "simhash128_near_dup", "simhash", tenx, _simhash_analyzer(128)
    )
    assert row["observer_invocations"] == 1
    assert row["false_cross_copy"] == 0, row
