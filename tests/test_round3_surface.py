"""Round-3 surface: append-mode watermarked windows, rate-source ETL,
partition retention, multi-probe LSH + ANN recall, Kafka source wiring,
and the dedup cache-release contract."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from tests.conftest import SF_DIR, assert_query_matches_oracle


@pytest.mark.parametrize(
    "name",
    [
        "streaming_windowed_append",
        "streaming_rate_source_etl",
        "retention_expire_partitions",
        "similarity_multiprobe_lsh",
        "similarity_recall_at_k",
    ],
)
def test_round3_queries_match_oracle(spark, duck, name):
    assert_query_matches_oracle(spark, duck, name, SF_DIR)


def test_append_mode_withholds_open_windows(spark):
    """Append mode must emit strictly fewer windows than the complete
    drain of the same aggregation: the final watermark (max ts - 2 h)
    never closes the last hours' windows."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod

    from streaming_data_pipeline_spark.sources.batch import load_table

    out = entrymod.queries()["streaming_windowed_append"](spark, SF_DIR)
    max_emitted = out.agg(F.max("window_start")).collect()[0][0]
    max_ts = load_table(spark, SF_DIR, "events").agg(F.max("ts")).collect()[0][0]
    # last emitted window closed at or before the watermark; the window
    # containing max_ts itself can never be emitted
    assert max_emitted is not None
    assert max_emitted < max_ts.replace(minute=0, second=0, microsecond=0)


def test_multiprobe_improves_recall_and_stays_broadcast(spark):
    """Multi-probe must dominate single-bucket LSH recall per probe, and
    the stored (candidate) side of its join must not be shuffled — the
    probe expansion broadcasts, the table scans straight into the join."""
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["similarity_recall_at_k"](spark, SF_DIR).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.multiprobe_recall >= r.lsh_recall, (
            r.probe_id,
            r.multiprobe_recall,
            r.lsh_recall,
        )
        # L independent tables must dominate one multi-probed table
        assert r.multitable_recall >= r.multiprobe_recall, (
            r.probe_id,
            r.multitable_recall,
            r.multiprobe_recall,
        )

    plan = (
        entrymod.queries()["similarity_multiprobe_lsh"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    # Below the broadcast join sit only the probe-side BroadcastExchange
    # and the stored-side scan: no shuffle between scan and join.
    below_join = plan.split("BroadcastHashJoin", 1)[1]
    assert "Exchange hashpartitioning" not in below_join


def test_expire_old_partitions_filesystem_contract(spark):
    """Partition-level retention: dropped dates are gone from disk,
    retained dates untouched, and the op returns what it dropped."""
    from pyspark.sql import functions as F

    from streaming_data_pipeline_spark.operators.retention import (
        expire_old_partitions,
        list_partition_values,
    )
    from streaming_data_pipeline_spark.sources.batch import load_table

    ev = load_table(spark, SF_DIR, "events").withColumn(
        "event_date", F.col("ts").cast("date")
    )
    base = tempfile.mkdtemp(prefix="spark_graft_ret_test_")
    try:
        ev.write.mode("overwrite").partitionBy("event_date").parquet(base)
        before = list_partition_values(base, "event_date")
        cutoff = before[len(before) // 2]
        dropped = expire_old_partitions(base, "event_date", cutoff)
        after = list_partition_values(base, "event_date")
        assert dropped == [v for v in before if v < cutoff]
        assert after == [v for v in before if v >= cutoff]
        for v in dropped:
            assert not os.path.exists(os.path.join(base, f"event_date={v}"))
        # retained data still readable and complete
        kept = spark.read.parquet(base).count()
        want = ev.filter(F.col("event_date") >= cutoff).count()
        assert kept == want
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_kafka_source_wiring(spark):
    """S1 production wiring: the Kafka source must surface the same
    one-column ``value`` contract and feed the identical wire ETL chain.
    Without the connector jar the construction fails with Spark's
    data-source-not-found error — assert that failure is the clean,
    documented one, not something structural."""
    from streaming_data_pipeline_spark.schema import ENRICHED_COLUMNS
    from streaming_data_pipeline_spark.streaming.sources import (
        kafka_message_stream,
    )

    try:
        df = kafka_message_stream(
            spark,
            "localhost:9092",
            "events",
            options={"maxOffsetsPerTrigger": "100000", "failOnDataLoss": "false"},
        )
    except Exception as e:  # noqa: BLE001 — asserting the failure mode
        assert "kafka" in str(e).lower()
        pytest.skip("kafka connector not on classpath (documented guard)")
    from streaming_data_pipeline_spark.operators.transforms import wire_pipeline

    assert df.isStreaming
    assert [f.name for f in df.schema.fields] == ["value"]
    etl = wire_pipeline(df, as_of="2024-02-01 00:00:00")
    assert [f.name for f in etl.schema.fields] == list(ENRICHED_COLUMNS)


def test_dedup_releases_prior_caches(spark):
    """Each near-dup entry point must release the previous call's cached
    frames (a 90-query sweep would otherwise pin ~90 tables until LRU)."""
    from streaming_data_pipeline_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y z")], "doc_id long, text string"
    )
    dedup.minhash_lsh_pairs(df).collect()
    first = list(dedup._LIVE_CACHES)
    assert first, "expected live caches after a near-dup run"
    dedup.simhash_near_dup_pairs(df).collect()
    assert all(c not in dedup._LIVE_CACHES for c in first)
    for c in first:
        assert c.storageLevel.useMemory is False, "prior cache not released"


@pytest.mark.parametrize(
    "name",
    [
        "dedup_cluster_components",
        "tfidf_top_terms",
        "embedding_quantize_int8",
        "streaming_stream_stream_join",
        "orc_export_roundtrip",
        "quality_repetition_metrics",
        "contamination_ngram_overlap",
        "stratified_sample_docs",
    ],
)
def test_round3_batch2_matches_oracle(spark, duck, name):
    assert_query_matches_oracle(spark, duck, name, SF_DIR)


def test_repetition_fracs_bounded(spark):
    """Both repetition fractions are ratios in [0, 1] for every doc."""
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    out = entrymod.queries()["quality_repetition_metrics"](spark, SF_DIR)
    bad = out.filter(
        (F.col("dup_trigram_frac") < 0)
        | (F.col("dup_trigram_frac") > 1)
        | (F.col("top_bigram_frac") < 0)
        | (F.col("top_bigram_frac") > 1)
    ).count()
    assert bad == 0


def test_stratified_sample_rates(spark):
    """Hash-stratified sampling lands near its quota per language:
    'en' ~25% (threshold 0x40), others ~50% (0x80). Wide tolerance —
    the check is that strata differ in the right direction, exact
    membership is the oracle's job."""
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    from streaming_data_pipeline_spark.sources.batch import load_table

    sampled = entrymod.queries()["stratified_sample_docs"](spark, SF_DIR)
    rates = {
        r["lang"]: r["n"]
        for r in sampled.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    docs = load_table(spark, SF_DIR, "documents")
    totals = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    en_rate = rates["en"] / totals["en"]
    other_rate = sum(rates[l] for l in rates if l != "en") / sum(
        totals[l] for l in totals if l != "en"
    )
    assert 0.10 < en_rate < 0.40
    assert 0.35 < other_rate < 0.65
    assert en_rate < other_rate


def test_connected_components_semantics(spark):
    """Min-label propagation on a known graph: two chains + an isolate.
    Labels must be the component minimum, including for nodes only
    transitively connected."""
    from streaming_data_pipeline_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 5, 6, 9]], "node long")
    got = {r.node: r.label for r in connected_components(pairs, nodes).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 9: 9}


def test_quantization_error_bound(spark):
    """int8 reconstruction error must be bounded by half a quantization
    step (amax/254) for every vector."""
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    out = entrymod.queries()["embedding_quantize_int8"](spark, SF_DIR)
    # scale_r ~ 127/amax  =>  half-step = 1/(2*scale); allow rounding slack
    bad = out.filter(
        F.col("max_abs_err") > (1.0 / (2 * F.col("scale_r"))) * 1.001
    ).count()
    assert bad == 0


@pytest.mark.parametrize(
    "name",
    [
        "small_file_compaction",
        "etl_dead_letter_routing",
        "shard_manifest_checksums",
    ],
)
def test_maintenance_and_routing_queries_match_oracle(spark, duck, name):
    assert_query_matches_oracle(spark, duck, name, SF_DIR)


def test_compaction_reduces_files_and_preserves_rows(spark):
    """The compaction operator must collapse an 8-files-per-partition
    sink to its byte target (1 file here), touch only oversized
    partitions, and preserve the exact row multiset."""
    from pyspark.sql import functions as F

    from streaming_data_pipeline_spark.operators.maintenance import (
        _data_files,
        _partition_dirs,
        compact_partitioned_sink,
    )
    from streaming_data_pipeline_spark.sources.batch import load_table

    ev = load_table(spark, SF_DIR, "events").withColumn(
        "event_date", F.col("ts").cast("date")
    )
    base = tempfile.mkdtemp(prefix="compact_test_")
    try:
        ev.repartition(8).write.mode("overwrite").partitionBy(
            "event_date"
        ).parquet(base)
        before = ev.groupBy("event_date").count().collect()
        report = compact_partitioned_sink(
            spark, base, "event_date", target_bytes=1 << 30
        )
        assert all(r["files_after"] == 1 for r in report)
        assert any(r["files_before"] > 1 for r in report)
        for part in _partition_dirs(base, "event_date"):
            assert len(_data_files(os.path.join(base, part))) == 1
        after = spark.read.parquet(base).groupBy("event_date").count().collect()
        assert sorted(map(tuple, before)) == sorted(map(tuple, after))
        # idempotent second run: nothing oversized remains, no rewrites
        report2 = compact_partitioned_sink(
            spark, base, "event_date", target_bytes=1 << 30
        )
        assert all(r["files_before"] == r["files_after"] == 1 for r in report2)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_dead_letter_reasons_partition_the_stream(spark):
    """Every record lands in exactly one routing bucket and the buckets
    sum to the input count; all four reasons must be exercised."""
    import __spark_entry__ as entrymod

    from streaming_data_pipeline_spark.sources.batch import load_table

    rows = entrymod.queries()["etl_dead_letter_routing"](spark, SF_DIR).collect()
    total = load_table(spark, SF_DIR, "events").count()
    assert sum(r.n for r in rows) == total
    assert {r.reason for r in rows} == {
        "malformed_json",
        "missing_required",
        "low_quality",
        "ok",
    }


def test_cc_unionfind_matches_pregel_loop(spark):
    """The union-find fast path and the min-label-propagation loop must
    produce identical labels on a graph with chains, a clique, dup/
    reversed edges, and isolates."""
    import random

    from streaming_data_pipeline_spark.operators.dedup import (
        connected_components,
    )

    rng = random.Random(7)
    edges = [(i, i + 1) for i in range(0, 40, 2)]          # 20 two-chains
    edges += [(100 + a, 100 + b) for a in range(8) for b in range(a)]  # clique
    edges += [(200, 201), (201, 202), (202, 203), (203, 204)]  # path, diam 4
    edges += [(b, a) for a, b in edges]                     # reversed dups
    edges += [edges[i] for i in (rng.randrange(len(edges)) for _ in range(30))]
    node_ids = sorted({x for e in edges for x in e} | {900, 901})
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    nodes = spark.createDataFrame([(n,) for n in node_ids], "node long")
    fast = {
        r.node: r.label for r in connected_components(pairs, nodes).collect()
    }
    loop = {
        r.node: r.label
        for r in connected_components(
            pairs, nodes, unionfind_max_nodes=0
        ).collect()
    }
    assert fast == loop
    assert fast[204] == 200 and fast[107] == 100 and fast[900] == 900


@pytest.mark.parametrize(
    "name", ["streaming_static_enrich_join", "unpivot_order_metrics"]
)
def test_breadth_queries_match_oracle(spark, duck, name):
    assert_query_matches_oracle(spark, duck, name, SF_DIR)


def test_stream_static_join_broadcasts_dim(spark):
    """The static dim side of the stream-static join must be planned as
    a broadcast: the stream side never shuffles for the join."""
    from pyspark.sql import functions as F

    from streaming_data_pipeline_spark.sources.batch import load_table

    ev = load_table(spark, SF_DIR, "events")
    dim = spark.createDataFrame(
        [("view", "engagement")], "event_type string, category string"
    )
    plan = (
        ev.join(F.broadcast(dim), "event_type", "left")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_heavy_hitters_query_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "heavy_hitter_bigrams", SF_DIR)


def test_misra_gries_candidates_are_superset(spark):
    """MG pass-1 candidates must contain EVERY item with global
    frequency >= phi*N, on a skewed stream spread across partitions."""
    import math

    from pyspark.sql import functions as F

    from streaming_data_pipeline_spark.operators.sketches import (
        _mg_summaries,
        heavy_hitters,
    )

    # 3 hot items (1000/600/300 of 3900+1000 rows) in a sea of uniques
    rows = (
        [("hot_a",)] * 1000 + [("hot_b",)] * 600 + [("hot_c",)] * 300
        + [(f"u{i}",) for i in range(3000)]
    )
    items = spark.createDataFrame(rows, "item string").repartition(8)
    phi = 0.05  # threshold 245: exactly {hot_a, hot_b, hot_c}
    k = math.ceil(1.0 / phi)
    summ = _mg_summaries(items, k).filter(F.col("rows").isNull())
    cands = {r.item for r in summ.collect()}
    assert {"hot_a", "hot_b", "hot_c"} <= cands
    got = {r.item: r.n for r in heavy_hitters(items, "item", phi).collect()}
    assert got == {"hot_a": 1000, "hot_b": 600, "hot_c": 300}


@pytest.mark.parametrize("name", ["variant_nested_extract", "cdc_chunk_dedup"])
def test_round3_batch3_matches_oracle(spark, duck, name):
    assert_query_matches_oracle(spark, duck, name, SF_DIR)


def test_cdc_chunking_is_shift_robust(spark):
    """Insert one token at the HEAD of a copied document: fixed-frame
    chunking re-frames everything downstream, but CDC boundaries are
    content-local, so all but O(1) chunks of the edited copy must still
    hash-match the original."""
    import random

    from streaming_data_pipeline_spark.plans.training_queries import (
        cdc_chunk_dedup,
    )

    rng = random.Random(3)
    words = [f"w{rng.randrange(200)}" for _ in range(400)]
    original = " ".join(words)
    edited = "inserted " + original  # head insertion: worst case for fixed frames
    unrelated = " ".join(f"z{rng.randrange(200)}" for _ in range(400))
    df = spark.createDataFrame(
        [(1, original), (2, edited), (3, unrelated)],
        "doc_id long, text string",
    )

    import tempfile as _tf

    d = _tf.mkdtemp(prefix="cdc_test_")
    try:
        df.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
        out = {r.doc_id: r for r in cdc_chunk_dedup(spark, d).collect()}
    finally:
        shutil.rmtree(d, ignore_errors=True)
    # the edited copy shares all but at most 2 chunks (the one spanning
    # the insertion point, plus a possible new head chunk)
    assert out[2].shared_chunks >= out[2].n_chunks - 2
    assert out[1].shared_chunks >= out[1].n_chunks - 2
    # the unrelated doc shares ~nothing
    assert out[3].shared_chunks <= out[3].n_chunks * 0.2


@pytest.mark.parametrize(
    "name",
    [
        "backfill_dynamic_overwrite",
        "hll_mergeable_sketch_union",
        "xml_export_roundtrip",
        "dq_constraint_report",
        "schema_evolution_merge_read",
        "full_outer_activity_join",
    ],
)
def test_round3_batch4_matches_oracle(spark, duck, name):
    assert_query_matches_oracle(spark, duck, name, SF_DIR)


@pytest.mark.parametrize(
    "name",
    [
        "udaf_median_mad_by_type",
        "bloom_filter_join_pruning",
        "hourly_dense_locf",
        "incremental_rollup_maintenance",
        "tokenizer_bpe_pair_counts",
        "order_rank_profile",
        "bucketed_colocated_join",
        "kmeans_lloyd_iterations",
        "snapshot_time_travel",
        "map_column_roundtrip",
        "theta_sketch_audience_overlap",
        "approx_topk_mergeable_tokens",
        "kll_quantile_sketch_check",
        "sql_udf_quality_score",
        "recursive_cte_user_hierarchy",
        "multimodal_wav_decode",
        "multimodal_png_decode",
        "multimodal_png_resize",
        "zorder_locality_buckets",
        "snapshot_incremental_changes",
        "daily_distribution_drift",
        "daily_volume_anomaly",
        "pagerank_event_transitions",
        "sql_table_function_calendar",
        "file_metadata_audit",
        "ab_test_chi_square",
        "null_safe_join_counts",
    ],
)
def test_round3_batch5_matches_oracle(spark, duck, name):
    assert_query_matches_oracle(spark, duck, name, SF_DIR)


def test_bloom_runtime_filter_injected(spark):
    """Under the forced thresholds the optimizer must inject the
    bloom_filter_agg creation subquery on the dimension side and the
    might_contain probe on the fact scan."""
    from streaming_data_pipeline_spark.plans.scale_queries import (
        _BLOOM_CONFS,
        _bloom_join_frame,
    )

    saved = {k: spark.conf.get(k, None) for k in _BLOOM_CONFS}
    for k, v in _BLOOM_CONFS.items():
        spark.conf.set(k, v)
    try:
        opt = _bloom_join_frame(spark, SF_DIR)._jdf.queryExecution().optimizedPlan().toString()
    finally:
        for k, v in saved.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)
    assert "might_contain" in opt and "bloom_filter_agg" in opt


def test_udaf_runs_as_arrow_grouped_agg(spark):
    """The robust stats must execute as a vectorized Arrow grouped
    aggregate (AggregateInPandas), not a row-at-a-time Python UDF."""
    import __spark_entry__ as entrymod

    import contextlib
    import io

    df = entrymod.queries()["udaf_median_mad_by_type"](spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # Spark 4 names the vectorized grouped-agg node ArrowAggregatePython
    # (earlier releases: AggregateInPandas)
    assert "ArrowAggregatePython" in plan or "AggregateInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_wav_decode_actually_parses_the_container(spark):
    """The WAV feature op must be a real decoder: corrupting the RIFF
    magic makes the same payload unreadable (a byte-arithmetic fake
    would not care)."""
    import io
    import wave

    import pytest as _pytest

    from streaming_data_pipeline_spark.operators.multimodal import (
        synth_wav_payloads,
    )

    df = spark.createDataFrame([(7,)], "doc_id long")
    payload = bytes(synth_wav_payloads(df).collect()[0].payload)
    assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
    with wave.open(io.BytesIO(payload), "rb") as w:
        assert w.getnframes() == 200 + 7 % 100
    corrupted = b"JUNK" + payload[4:]
    with _pytest.raises(wave.Error):
        wave.open(io.BytesIO(corrupted), "rb")


def test_png_decode_verifies_structure(spark):
    """The PNG op must be a real codec: the payload opens as a
    spec-valid PNG (signature + IHDR), and corrupting one IDAT byte
    trips the CRC check in the decoder."""
    import struct

    import pytest as _pytest

    from streaming_data_pipeline_spark.operators.multimodal import (
        decode_png_features,
        synth_png_payloads,
    )

    df = spark.createDataFrame([(11,)], "doc_id long")
    payload = bytes(synth_png_payloads(df).collect()[0].payload)
    assert payload[:8] == b"\x89PNG\r\n\x1a\n"
    (ihdr_len,) = struct.unpack(">I", payload[8:12])
    assert payload[12:16] == b"IHDR" and ihdr_len == 13
    row = decode_png_features(synth_png_payloads(df)).collect()[0]
    assert (row.width, row.height) == (16 + 11 % 16, 12 + 11 % 8)

    idat_pos = payload.find(b"IDAT")
    corrupted = bytearray(payload)
    corrupted[idat_pos + 6] ^= 0xFF
    bad = spark.createDataFrame([(11, bytes(corrupted))], "doc_id long, payload binary")
    with _pytest.raises(Exception, match="(?i)crc"):
        decode_png_features(bad).collect()


def test_zorder_buckets_bound_both_dimensions(spark):
    """Each 16th of the z-curve must span at most half of BOTH raw
    dimensions' ranges (it actually spans a quarter: 4 z-bucket bits =
    2 high bits per dimension)."""
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["zorder_locality_buckets"](spark, SF_DIR).collect()
    assert len(rows) > 1
    for r in rows:
        assert r.u_max - r.u_min <= 128, r
        assert r.v_max - r.v_min <= 128, r


def test_bitmask_intersection_bound_is_safe():
    """Property test for the LSH candidate pruner's bound: for ANY two
    token sets, |A∩B| <= min(|A| - popcount(maskA & ~maskB),
    |B| - popcount(maskB & ~maskA)) — i.e. the pruner can only drop
    pairs that provably cannot reach the threshold, never a true pair.
    Pure-Python mirror of the Spark expression (same xxhash64-mod-64
    bit assignment is irrelevant to the property: ANY hash keeps the
    bound safe, so a simpler hash suffices here)."""
    import random

    rng = random.Random(7)

    def mask(tokens):
        m = 0
        for t in tokens:
            m |= 1 << (hash(t) % 64)
        return m

    for _ in range(500):
        vocab = [f"t{i}" for i in range(rng.randrange(5, 200))]
        a = set(rng.sample(vocab, rng.randrange(1, len(vocab) + 1)))
        b = set(rng.sample(vocab, rng.randrange(1, len(vocab) + 1)))
        ma, mb = mask(a), mask(b)
        bound = min(
            len(a) - bin(ma & ~mb & (2**64 - 1)).count("1"),
            len(b) - bin(mb & ~ma & (2**64 - 1)).count("1"),
        )
        assert len(a & b) <= bound, (sorted(a), sorted(b))
