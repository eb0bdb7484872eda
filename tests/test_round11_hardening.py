"""Round-11 hardening: the CC scale path driven through the PRODUCTION
query entry, the wire-sink two-writer concurrency contract, and the
kafka option ownership error."""

from __future__ import annotations

import json
import os
import threading

import pytest

from tests.conftest import SF_DIR_MID

REPO = os.path.join(os.path.dirname(__file__), "..")


# ---------------------------------------------------------------------------
# CC scale path through the production entry (r10 verdict task 5)
# ---------------------------------------------------------------------------


def test_dedup_cluster_components_scale_path_equals_fast_path(spark, monkeypatch):
    """The Pregel loop (the >1M-node scale path of connected_components)
    has only ever been CI-exercised on synthetic path graphs; this runs
    the PRODUCTION entry dedup_cluster_components at sf0.01 with the
    union-find fast path disabled and asserts the loop's labels are
    byte-identical to the fast path's — both code paths oracle-equal on
    the real minhash group graph in one test."""
    from streaming_data_pipeline_spark.operators import dedup
    from streaming_data_pipeline_spark.plans.llm_queries import (
        dedup_cluster_components,
    )

    fast = {
        (r["doc_id"], r["cluster_id"], r["cluster_size"])
        for r in dedup_cluster_components(spark, SF_DIR_MID).collect()
    }
    assert fast, "fixture produced no clusters — test would be vacuous"

    orig = dedup.connected_components

    def forced_loop(pairs, nodes, max_iter=20, unionfind_max_nodes=1_000_000):
        return orig(pairs, nodes, max_iter=max_iter, unionfind_max_nodes=0)

    # minhash_cluster_labels resolves connected_components via its
    # module global, so this redirects the PRODUCTION call site only.
    monkeypatch.setattr(dedup, "connected_components", forced_loop)
    loop = {
        (r["doc_id"], r["cluster_id"], r["cluster_size"])
        for r in dedup_cluster_components(spark, SF_DIR_MID).collect()
    }
    assert loop == fast


# ---------------------------------------------------------------------------
# wire_sink: concurrent committers + racing vacuum (r10 verdict task 7)
# ---------------------------------------------------------------------------


def test_wire_sink_concurrent_writers_last_key_wins_and_vacuum_safe(tmp_path):
    """The manifest's documented concurrency model, finally exercised:
    two threads commit interleaved epochs over the SAME key space (a
    replayed epoch supersedes itself — last key wins) while a third
    thread runs vacuum continuously with a retention window covering
    the write jobs (min_age=0 mid-flight is DOCUMENTED-unsafe for
    staging stragglers: "only safe when the quiet window covers ...
    whole write JOBS" — the first version of this test proved that
    sentence by losing staged files to the sweeper). Afterward every
    line in the manifest must be whole JSON (O_APPEND single-write
    discipline), every resolved winner's data file must exist with its
    own payload, and a final quiescent vacuum(0) must sweep every
    superseded file without touching a referenced one."""
    from streaming_data_pipeline_spark.sources.wire_sink import (
        _manifest_entries,
        _promote,
        _Staged,
        committed_files,
        vacuum,
    )

    path = str(tmp_path / "sink")
    os.makedirs(os.path.join(path, "_staging"), exist_ok=True)
    n_keys, errors = 25, []

    def writer(writer_id: str) -> None:
        try:
            for i in range(n_keys):
                name = f"part-{writer_id}{i:04d}.jsonl"
                with open(os.path.join(path, "_staging", name), "w") as f:
                    f.write(json.dumps({"writer": writer_id, "epoch": i}) + "\n")
                _promote(
                    path,
                    [_Staged(filename=name, rows=1)],
                    ledger_key=f"epoch-{i}",
                )
        except Exception as exc:  # surfaced after join
            errors.append(exc)

    stop = threading.Event()

    def vacuumer() -> None:
        try:
            while not stop.is_set():
                # retention window >> test runtime: data-file deletion
                # stays tombstone-gated and in-flight staging files are
                # never swept, per the documented min_age contract
                vacuum(path, min_age_seconds=300.0)
        except Exception as exc:
            errors.append(exc)

    threads = [
        threading.Thread(target=writer, args=("a",)),
        threading.Thread(target=writer, args=("b",)),
        threading.Thread(target=vacuumer),
    ]
    for t in threads:
        t.start()
    for t in threads[:2]:
        t.join()
    stop.set()
    threads[2].join()
    assert not errors, errors

    # every manifest line is whole JSON — torn/interleaved writes would
    # have broken the parse inside _manifest_entries already, but check
    # the raw file explicitly since that IS the claimed discipline
    with open(os.path.join(path, "_manifest")) as f:
        raw_lines = [json.loads(line) for line in f if line.strip()]
    assert raw_lines

    entries = _manifest_entries(path)
    assert set(entries) == {f"epoch-{i}" for i in range(n_keys)}
    # last-key-wins: the winner's file exists and carries the winner's
    # own payload (a lost update would leave a dangling filename or the
    # other writer's bytes)
    for key, files in entries.items():
        assert len(files) == 1, (key, files)
        full = os.path.join(path, files[0])
        assert os.path.exists(full), (key, files)
        payload = json.loads(open(full).read())
        assert f"part-{payload['writer']}" in files[0]
        assert f"epoch-{payload['epoch']}" == key
    # final vacuum: superseded loser files sweep; winners all survive
    vacuum(path, min_age_seconds=0.0)
    remaining = {
        name
        for name in os.listdir(path)
        if name.startswith("part-") and name.endswith(".jsonl")
    }
    winners = {files[0] for files in entries.values()}
    assert remaining == winners
    assert len(committed_files(path)) == n_keys


# ---------------------------------------------------------------------------
# kafka option ownership (ADVICE r10)
# ---------------------------------------------------------------------------


def test_kafka_message_stream_rejects_owned_option_duplicates(spark):
    """A caller passing startingOffsets (any casing) via the options
    dict used to get the explicit parameter's 'earliest' silently; now
    the conflict is a ValueError naming the owning parameter."""
    from streaming_data_pipeline_spark.streaming.sources import (
        kafka_message_stream,
    )

    with pytest.raises(ValueError, match="starting_offsets"):
        kafka_message_stream(
            spark,
            "broker:9092",
            "events",
            options={"startingOffsets": "latest"},
        )
    with pytest.raises(ValueError, match="bootstrap_servers"):
        kafka_message_stream(
            spark,
            "broker:9092",
            "events",
            options={"kafka.bootstrap.servers": "other:9092"},
        )
    # non-owned keys are still a plain passthrough: construction must
    # get past the conflict guard to the connector lookup (absent jar
    # -> Spark's data-source error, which proves the guard let it by)
    with pytest.raises(Exception, match="(?i)kafka|data.?source|failed to find"):
        kafka_message_stream(
            spark,
            "broker:9092",
            "events",
            options={"maxOffsetsPerTrigger": "1000"},
        )
