"""Spark 4 Python DataSource producer (sources/pysource.py): batch
partitioning, determinism, filter pushdown, bounded streaming, and the
driver-style oracle parity for all three plans/pysource_queries.py
queries."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR, assert_query_matches_oracle

from streaming_data_pipeline_spark.sources import pysource


def _read(spark, **opts):
    pysource.register(spark)
    r = spark.read.format("event_synth")
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_batch_read_shape_and_partitions(spark):
    df = _read(spark, num_rows=700, num_partitions=5)
    assert df.count() == 700
    assert df.rdd.getNumPartitions() == 5
    assert [f.name for f in df.schema.fields] == [
        "event_id", "event_type", "user_id", "message", "value", "event_ts",
    ]


def test_batch_read_deterministic(spark):
    a = _read(spark, num_rows=300, num_partitions=3).orderBy("event_id").collect()
    b = _read(spark, num_rows=300, num_partitions=7).orderBy("event_id").collect()
    assert a == b  # partitioning must not change content
    r5 = a[5]
    assert r5.event_type == pysource.EVENT_TYPES[5 % 7]
    assert r5.user_id == "user_%d" % (1 + (5 * 31 + 7) % 50)
    assert r5.value == ((5 * 7919 + 13) % 9900) / 100.0 + 1.0


def test_filter_pushdown_prunes_generation(spark):
    full = _read(spark, num_rows=2100, num_partitions=4)
    pushed = full.filter(
        (F.col("event_type") == "error") & (F.col("event_id") >= 700) & (F.col("event_id") < 1400)
    )
    rows = pushed.collect()
    # error is index 5 of the 7-cycle: indices 5, 12, 19, ... in [700, 1400)
    want = [i for i in range(700, 1400) if i % 7 == 5]
    assert sorted(r.event_id for r in rows) == want
    assert all(r.event_type == "error" for r in rows)
    # The reader clamps the index range before planning partitions, so
    # the scan's input partitions cover only the surviving range.
    reader = pysource._SynthReader({"num_rows": "2100", "num_partitions": "4"})
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, LessThan

    leftover = list(
        reader.pushFilters(
            [
                EqualTo(("event_type",), "error"),
                GreaterThanOrEqual(("event_id",), 700),
                LessThan(("event_id",), 1400),
            ]
        )
    )
    assert leftover == []  # everything accepted
    parts = reader.partitions()
    assert parts[0].start == 700 and parts[-1].end == 1400
    # read() yields Arrow RecordBatches (r11): the pushed equality steps
    # the generated index by 7 inside each batch build.
    got = sorted(
        i
        for p in parts
        for batch in reader.read(p)
        for i in batch.column("event_id").to_pylist()
    )
    assert got == want


def test_unpushable_filter_returned_to_spark(spark):
    reader = pysource._SynthReader({"num_rows": "100"})
    from pyspark.sql.datasource import EqualTo

    leftover = list(reader.pushFilters([EqualTo(("user_id",), "user_9")]))
    assert len(leftover) == 1  # Spark re-applies it post-scan
    # And end-to-end the unpushed predicate still evaluates correctly.
    n = _read(spark, num_rows=500).filter(F.col("user_id") == "user_9").count()
    assert n == sum(1 for i in range(500) if 1 + (i * 31 + 7) % 50 == 9)


def test_stream_reader_offsets_bounded():
    r = pysource._SynthStreamReader({"num_rows": "1000", "rows_per_batch": "300"})
    assert r.initialOffset() == {"index": 0}
    seen = [r.latestOffset()["index"] for _ in range(6)]
    assert seen == [300, 600, 900, 1000, 1000, 1000]  # monotone, capped
    parts = r.partitions({"index": 300}, {"index": 600})
    covered = sorted(i for p in parts for (i, *_rest) in r.read(p))
    assert covered == list(range(300, 600))


@pytest.mark.parametrize(
    "name",
    ["pysource_batch_rollup", "pysource_pushdown_purchases", "pysource_stream_rollup"],
)
def test_pysource_queries_match_oracle(spark, duck, name):
    assert_query_matches_oracle(spark, duck, name, SF_DIR)


def test_wire_sink_commit_protocol(spark, tmp_path):
    """Staged-but-uncommitted files are invisible; committed files are
    exactly what read_committed returns; streaming epochs re-commit
    idempotently."""
    import json
    import os

    from streaming_data_pipeline_spark.sources import wire_sink

    wire_sink.register(spark)
    base = str(tmp_path / "sink")
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, s string")
    df.repartition(2).write.format("wire_sink").option("path", base).mode("append").save()
    back = wire_sink.read_committed(spark, base, "k int, s string")
    assert sorted(r.k for r in back.collect()) == [1, 2, 3]

    # Orphan a straggler in _staging: read-back must not see it.
    with open(os.path.join(base, "_staging", "part-orphan.jsonl"), "w") as f:
        f.write(json.dumps({"k": 99, "s": "zombie"}) + "\n")
    assert sorted(r.k for r in wire_sink.read_committed(spark, base, "k int, s string").collect()) == [1, 2, 3]

    # Replayed epoch replaces its own manifest entry (no double count).
    w = wire_sink._WireStreamWriter({"path": base})
    staged1 = wire_sink._stage_partition(base, iter([]))
    w.commit([staged1], batchId=7)
    n_after_first = len(wire_sink.committed_files(base))
    staged2 = wire_sink._stage_partition(base, iter([]))
    w.commit([staged2], batchId=7)
    assert len(wire_sink.committed_files(base)) == n_after_first


def test_wire_sink_streaming_epochs(spark, tmp_path):
    """The stream writer path end-to-end: a bounded stream through
    writeStream.format('wire_sink'), each microbatch an epoch in the
    manifest."""
    import json
    import os

    from streaming_data_pipeline_spark.sources import pysource, wire_sink

    pysource.register(spark)
    wire_sink.register(spark)
    base = str(tmp_path / "stream_sink")
    stream = (
        spark.readStream.format("event_synth")
        .option("num_rows", 500)
        .option("rows_per_batch", 200)
        .load()
    )
    q = (
        stream.writeStream.format("wire_sink")
        .option("path", base)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    import time

    deadline = time.time() + 60
    while True:
        files = wire_sink.committed_files(base)
        if files:
            n = spark.read.schema(
                "event_id bigint, event_type string, user_id string, "
                "message string, value double, event_ts string"
            ).json(files).count()
            if n >= 500:
                break
        if time.time() > deadline:
            q.stop()
            raise TimeoutError("wire sink stream never reached 500 rows")
        time.sleep(0.2)
    q.stop()
    q.awaitTermination()
    manifest = os.path.join(base, "_manifest")
    keys = [json.loads(line)["key"] for line in open(manifest)]
    assert any(k.startswith("epoch-") for k in keys)
    back = wire_sink.read_committed(
        spark,
        base,
        "event_id bigint, event_type string, user_id string, "
        "message string, value double, event_ts string",
    )
    rows = back.select("event_id").distinct().count()
    assert rows == 500


def test_wire_sink_roundtrip_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "wire_sink_roundtrip", SF_DIR)


def _drain(reader, start_idx, end_idx):
    parts = reader.partitions({"index": start_idx}, {"index": end_idx})
    return sorted(i for p in parts for (i, *_rest) in reader.read(p))


def test_stream_reader_replays_uncommitted_batch_after_restart():
    """Restart with an in-flight (offset-logged but uncommitted) batch:
    the fresh reader must replay exactly the logged range, then resume
    admission from its end — no duplicates, no gaps."""
    opts = {"num_rows": "1000", "rows_per_batch": "300"}
    # --- original run: two batches planned, only the first committed
    r1 = pysource._SynthStreamReader(opts)
    assert r1.latestOffset() == {"index": 300}
    assert _drain(r1, 0, 300) == list(range(0, 300))
    r1.commit({"index": 300})
    assert r1.latestOffset() == {"index": 600}  # batch 2 planned, crash here
    # --- restart: fresh reader, engine replays the logged batch 2
    r2 = pysource._SynthStreamReader(opts)
    assert _drain(r2, 300, 600) == list(range(300, 600))  # verbatim replay
    r2.commit({"index": 600})
    # admission resumes from the committed frontier, not from 0
    assert r2.latestOffset() == {"index": 900}
    assert _drain(r2, 600, 900) == list(range(600, 900))


def test_stream_reader_clean_restart_never_duplicates():
    """Restart after a clean shutdown (all batches committed): the fresh
    reader's first latestOffset is below the committed start the engine
    hands to partitions(); the clamp must keep every subsequent emitted
    range disjoint from the committed prefix."""
    opts = {"num_rows": "1000", "rows_per_batch": "300"}
    committed = 600  # rows [0, 600) were committed before shutdown
    r = pysource._SynthStreamReader(opts)
    emitted = []
    # Engine loop: start = previous end (from its offset log), end = the
    # reader's latestOffset — exactly the regressed-offset scenario.
    start = committed
    for _ in range(6):
        end = r.latestOffset()["index"]
        emitted += _drain(r, start, end)
        r.commit({"index": end})
        start = end
    assert emitted == list(range(600, 1000))  # no dups below 600, no gaps


def test_stream_reader_probe_then_replay_emits():
    """The engine's observed restart sequence: first a (end, end) probe
    whose start is the END of the uncommitted batch, then the real
    replay of that batch. The probe must not poison the restart floor —
    an earlier fix used first-call start as the floor and the replay
    emitted 0 rows."""
    r = pysource._SynthStreamReader({"num_rows": "600", "rows_per_batch": "100"})
    assert _drain(r, 400, 400) == []            # probe
    assert _drain(r, 300, 400) == list(range(300, 400))  # replay survives
    r.commit({"index": 400})
    assert r.latestOffset() == {"index": 500}   # resumes past the frontier
    assert _drain(r, 400, 500) == list(range(400, 500))


def test_stream_reader_partitions_idempotent():
    """The engine plans the same offset range more than once (plan +
    execute, task retries); partitions() must return the same rows every
    time — a restart clamp that advanced per call swallowed the replay
    (the replayed batch emitted 0 rows)."""
    r = pysource._SynthStreamReader({"num_rows": "1000", "rows_per_batch": "300"})
    first = _drain(r, 300, 600)
    second = _drain(r, 300, 600)
    assert first == second == list(range(300, 600))


def test_stream_restart_end_to_end_exactly_once(spark, tmp_path):
    """Full checkpoint-restart through the engine: run the bounded
    stream partway, stop, restart against the same checkpoint, and
    assert the parquet sink holds each event_id exactly once."""
    import time

    pysource.register(spark)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def _start():
        return (
            spark.readStream.format("event_synth")
            .option("num_rows", 600)
            .option("rows_per_batch", 100)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(processingTime="0 seconds")
            .start()
        )

    q = _start()
    deadline = time.time() + 60
    while True:  # let at least one batch commit, then stop mid-stream
        p = q.lastProgress
        if p and p["numInputRows"] and time.time() > 0:
            try:
                if spark.read.parquet(out).count() >= 100:
                    break
            except Exception:
                pass
        if time.time() > deadline:
            q.stop()
            raise TimeoutError("first run never committed a batch")
        time.sleep(0.2)
    q.stop()
    q.awaitTermination()

    q = _start()  # fresh reader + existing checkpoint = the restart path
    deadline = time.time() + 90
    while True:
        n = spark.read.parquet(out).count()
        if n >= 600:
            break
        if time.time() > deadline:
            q.stop()
            raise TimeoutError("restarted run never reached 600 rows")
        time.sleep(0.3)
    q.stop()
    q.awaitTermination()
    got = spark.read.parquet(out)
    assert got.count() == 600  # no duplicate re-emission after restart
    assert got.select("event_id").distinct().count() == 600


def test_stream_reader_double_restart_with_frontier_dir(tmp_path):
    """The advisory's duplicate scenario: two consecutive restarts. The
    in-memory floor only survives one (a second fresh reader starts at
    _floor=0 and re-emits a regressed forward plan). With frontier_dir
    the committed frontier is durable: every fresh reader's FIRST
    latestOffset resumes at >= the committed frontier, and a forward
    plan that starts below it (a poisoned offset-log entry) is clamped
    instead of re-emitted."""
    opts = {
        "num_rows": "1000",
        "rows_per_batch": "100",
        "frontier_dir": str(tmp_path / "frontier"),
    }
    r1 = pysource._SynthStreamReader(opts)
    emitted = _drain(r1, 0, r1.latestOffset()["index"])
    r1.commit({"index": 100})

    r2 = pysource._SynthStreamReader(opts)  # restart 1
    assert r2.latestOffset() == {"index": 200}  # resumes, never regresses
    emitted += _drain(r2, 100, 200)
    r2.commit({"index": 200})

    r3 = pysource._SynthStreamReader(opts)  # restart 2 — the dup window
    assert r3.latestOffset() == {"index": 300}
    # A forward plan entirely below the durable frontier re-emits nothing.
    assert _drain(r3, 50, 150) == []
    emitted += _drain(r3, 200, 300)
    assert emitted == list(range(0, 300))  # exactly-once across 2 restarts


def test_stream_reader_frontier_file_corruption_tolerated(tmp_path):
    """A truncated/garbled frontier file degrades to the in-memory
    single-restart guarantee instead of crashing the query."""
    fdir = tmp_path / "frontier"
    fdir.mkdir()
    (fdir / "frontier.json").write_text("{not json")
    r = pysource._SynthStreamReader(
        {"num_rows": "500", "rows_per_batch": "100", "frontier_dir": str(fdir)}
    )
    assert r.latestOffset() == {"index": 100}
    r.commit({"index": 100})  # heals: next reader resumes from 100
    r2 = pysource._SynthStreamReader(
        {"num_rows": "500", "rows_per_batch": "100", "frontier_dir": str(fdir)}
    )
    assert r2.latestOffset() == {"index": 200}


def test_stream_double_restart_end_to_end_exactly_once(spark, tmp_path):
    """Full engine double-restart with frontier_dir: stop the bounded
    stream twice mid-flight and assert the sink holds each event_id
    exactly once — the multi-restart guarantee, end to end."""
    import time

    pysource.register(spark)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    fdir = str(tmp_path / "frontier")

    def _start():
        return (
            spark.readStream.format("event_synth")
            .option("num_rows", 600)
            .option("rows_per_batch", 100)
            .option("frontier_dir", fdir)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(processingTime="0 seconds")
            .start()
        )

    def _run_until(target, deadline_s):
        q = _start()
        deadline = time.time() + deadline_s
        while True:
            try:
                if spark.read.parquet(out).count() >= target:
                    break
            except Exception:
                pass
            if time.time() > deadline:
                q.stop()
                raise TimeoutError(f"never reached {target} rows")
            time.sleep(0.2)
        q.stop()
        q.awaitTermination()

    _run_until(100, 60)   # first life
    _run_until(300, 90)   # restart 1
    _run_until(600, 90)   # restart 2 — the advisory's duplicate window
    got = spark.read.parquet(out)
    assert got.count() == 600
    assert got.select("event_id").distinct().count() == 600


def test_event_ts_is_one_instant_on_every_read_path(spark):
    """event_ts is generated as a naive timestamp: an Arrow
    ``pa.timestamp("us")`` column on the batch path, a naive datetime on
    the row-tuple stream path. Under non-UTC session time zones all
    three read paths (batch with pushdown off and on, stream) must read
    row 0 as the same instant, 2026-01-01 00:00:00 UTC."""
    pysource.register(spark)
    tz_key = "spark.sql.session.timeZone"
    pd_key = "spark.sql.python.filterPushdown.enabled"
    prev_tz, prev_pd = spark.conf.get(tz_key), spark.conf.get(pd_key)

    def row0(df):
        return (
            df.filter(F.col("event_id") < 1)
            .select(F.unix_timestamp("event_ts").alias("t"))
            .collect()[0]
            .t
        )

    try:
        for tz in ("America/Los_Angeles", "Asia/Kolkata"):
            spark.conf.set(tz_key, tz)
            got = {}
            for pushdown in ("false", "true"):
                spark.conf.set(pd_key, pushdown)
                got[f"batch_pushdown_{pushdown}"] = row0(
                    spark.read.format("event_synth").option("num_rows", 10).load()
                )
            table = "pysource_ts_" + tz.replace("/", "_").lower()
            q = (
                spark.readStream.format("event_synth")
                .option("num_rows", 10)
                .option("rows_per_batch", 10)
                .load()
                .writeStream.format("memory")
                .queryName(table)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
            got["stream"] = row0(spark.table(table))
            spark.sql(f"DROP VIEW IF EXISTS {table}")
            assert set(got.values()) == {1767225600}, (tz, got)
    finally:
        spark.conf.set(tz_key, prev_tz)
        spark.conf.set(pd_key, prev_pd)
