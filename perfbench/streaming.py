"""ingest_live and backlog_drain: the streaming engine, the transform
kernel and the date-partitioned parquet sink.

ingest_live is an open loop: a generator thread publishes wire files on a
fixed schedule while ``run_pipeline`` runs back-to-back micro-batches and
one closed-loop reader re-runs the freshness queries on the live sink.
backlog_drain is a batch of work: a staged backlog drained repeatedly by
``run_pipeline(available_now=True)`` into fresh sinks.
"""

from __future__ import annotations

import datetime as dt
import random
import shutil
import threading
import time

from pyspark.sql import functions as F
from pyspark.sql import types as T

from perfbench import gen
from perfbench.common import (
    Ctx,
    check_sink_exactly_once,
    median,
    quantile,
    sink_commits,
    sink_file_stats,
    sink_ids,
    wait_until,
)
from streaming_data_pipeline_spark.operators import transforms
from streaming_data_pipeline_spark.schema import ENRICHED_COLUMNS, ENRICHED_EVENT_SCHEMA
from streaming_data_pipeline_spark.streaming.pipeline import run_pipeline

# Open-loop offered load: 10 files/s x 40 events. One micro-batch costs a
# few hundred ms of fixed work on 4 cores, so this keeps the engine well
# under saturation (latency measures queueing + one batch, not a backlog
# growing for the whole run).
LIVE_FILES_PER_S = 10
LIVE_EVENTS_PER_FILE = 40
# The JVM keeps getting faster for tens of seconds after start; a live
# warm-up phase lets the measured phase start on a settled engine.
LIVE_WARMUP_S = 12

# Backlog: 40 files x 1000 events; one warm drain takes ~1.2 s on 4
# cores, so a run measures about ten complete drains. Drain times keep
# falling for ~15 drains after the JVM starts, hence the warm-up drains.
DRAIN_FILES = 40
DRAIN_EVENTS_PER_FILE = 1000
DRAIN_WARMUPS = 12

SINK_SCHEMA = T.StructType(ENRICHED_EVENT_SCHEMA.fields + [T.StructField("event_date", T.DateType())])
FRESHNESS_WINDOW = dt.timedelta(hours=24)


# --------------------------------------------------------------------------
# Freshness queries (reference A4 health check and A1 event-type rollup)
# over the live sink rather than the fixture table.
# --------------------------------------------------------------------------


def _fresh(spark, sink_dir: str):
    since = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None) - FRESHNESS_WINDOW
    df = spark.read.schema(SINK_SCHEMA).parquet(sink_dir)
    return df.filter(F.col("timestamp") >= F.lit(since).cast("timestamp_ntz"))


def health_check(spark, sink_dir: str) -> dict:
    row = (
        _fresh(spark, sink_dir)
        .agg(
            F.count("*").alias("total_records"),
            F.countDistinct("user_id").alias("unique_users"),
            F.countDistinct("event_type").alias("event_types"),
            F.max("timestamp").alias("latest_event"),
        )
        .collect()[0]
    )
    return row.asDict()


def event_type_rollup(spark, sink_dir: str) -> list[dict]:
    rows = (
        _fresh(spark, sink_dir)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("event_count"),
            F.round(F.avg("value"), 4).alias("avg_value"),
            F.max("timestamp").alias("latest_event"),
        )
        .orderBy(F.desc("event_count"), "event_type")
        .collect()
    )
    return [r.asDict() for r in rows]


# --------------------------------------------------------------------------
# Streaming progress -> per-layer numbers
# --------------------------------------------------------------------------

_DURATIONS = {
    "source.latest_offset_ms": "latestOffset",
    "source.get_batch_ms": "getBatch",
    "pipeline.query_planning_ms": "queryPlanning",
    "pipeline.add_batch_ms": "addBatch",
    "pipeline.wal_commit_ms": "walCommit",
    "pipeline.commit_offsets_ms": "commitOffsets",
}


def data_batches(query) -> list:
    return [p for p in query.recentProgress if p["numInputRows"] > 0]


def trace_batches(ctx: Ctx, progresses: list) -> None:
    """Spans for each micro-batch and its phases, from the engine's
    public progress reports (phases laid end to end in report order)."""
    for p in progresses:
        start = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        total = p["durationMs"].get("triggerExecution", 0) / 1000.0
        sid = ctx.tracer.record("pipeline.batch", start, start + total, rows=p["numInputRows"])
        cursor = start
        for name, key in _DURATIONS.items():
            d = p["durationMs"].get(key, 0) / 1000.0
            ctx.tracer.record(name.rsplit("_", 1)[0], cursor, cursor + d, parent=sid)
            cursor += d


def progress_layers(ctx: Ctx, progresses: list) -> None:
    for name, key in _DURATIONS.items():
        ctx.layer[name] = median([p["durationMs"].get(key, 0) for p in progresses])
    ctx.layer["pipeline.batches"] = float(len(progresses))
    ctx.layer["pipeline.rows_per_batch"] = median([p["numInputRows"] for p in progresses])


def sink_layers(ctx: Ctx, sink_dir: str) -> None:
    files, size = sink_file_stats(sink_dir)
    ctx.layer["sink.files_written"] = float(files)
    ctx.layer["sink.bytes_written"] = float(size)
    ctx.layer["sink.mean_file_kb"] = size / files / 1024.0 if files else 0.0


def stream_confs(spark) -> None:
    # keep every micro-batch's progress report for the whole run
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")


# --------------------------------------------------------------------------
# ingest_live
# --------------------------------------------------------------------------


def live_setup(ctx: Ctx) -> None:
    """Warm the micro-batch, sink and reader paths with a short live
    phase of the same shape as the measured one."""
    stream_confs(ctx.spark)
    live_measure(ctx, "warmup", LIVE_WARMUP_S)


def _generator(ctx: Ctx, rng: random.Random, stage: str, drop: str, t0: float, files: int, ledger: gen.WireLedger, lock: threading.Lock) -> None:
    for k in range(files):
        due = t0 + k / LIVE_FILES_PER_S
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        created = time.time()
        with lock:
            lines = gen.wire_lines(rng, f"L{k}", LIVE_EVENTS_PER_FILE, created, ledger)
        with ctx.tracer.span("gen.publish", file=k):
            gen.publish(lines, stage, drop, f"part-{k:05d}.json")
        ledger.file_due.append(due)
        ledger.file_written.append(time.time())
        ledger.file_events.append(len(lines))


def _reader(ctx: Ctx, sink: str, stop: threading.Event, ledger: gen.WireLedger, lock: threading.Lock, out: dict) -> None:
    spark = ctx.spark
    last_total = 0
    while not stop.is_set():
        for name, fn in (("health_check", health_check), ("event_type_rollup", event_type_rollup)):
            if stop.is_set():
                break
            s = time.time()
            try:
                with ctx.tracer.span(f"reader.{name}"):
                    res = fn(spark, sink)
            except Exception as exc:  # a failed read counts as a failed operation
                ctx.check(False, f"reader {name}: {exc!r}"[:300])
                continue
            e = time.time()
            out["latency"].append(e - s)
            with lock:
                published = len(ledger.survivors)
                types = set(ledger.event_types)
            if name == "health_check":
                total = res["total_records"]
                ok = last_total <= total <= published and (total == 0 or res["event_types"] <= len(types))
                last_total = max(last_total, total)
            else:
                total = sum(r["event_count"] for r in res)
                ok = total <= published and all(r["event_type"] in types for r in res)
            ctx.check(ok, f"reader {name}: inconsistent result {res!r}"[:300])


def live_measure(ctx: Ctx, label: str, seconds: float | None = None) -> dict[str, float]:
    spark = ctx.spark
    seconds = seconds or ctx.seconds
    stage, drop = ctx.fresh_dir(label, "stage"), ctx.fresh_dir(label, "in")
    sink, ck = ctx.fresh_dir(label, "out"), ctx.fresh_dir(label, "ck")
    ledger, lock = gen.WireLedger(), threading.Lock()
    rng = random.Random(ctx.seed)
    files = int(LIVE_FILES_PER_S * seconds)

    started = time.time()
    query = run_pipeline(spark, drop, sink, ck, trigger_seconds=0)
    wait_until(lambda: query.isActive, 30)
    t0 = time.time() + 0.5
    producer = threading.Thread(target=_generator, args=(ctx, rng, stage, drop, t0, files, ledger, lock), name="generator")
    reads = {"latency": []}
    stop = threading.Event()
    reader = threading.Thread(target=_reader, args=(ctx, sink, stop, ledger, lock, reads), name="reader")
    producer.start()
    wait_until(lambda: sink_commits(sink), 30)
    reader.start()
    producer.join()
    published_lines = sum(ledger.file_events)
    drained = wait_until(lambda: sum(p["numInputRows"] for p in query.recentProgress) >= published_lines, 60)
    stop.set()
    reader.join()
    query.stop()
    stopped = time.time()
    ctx.check(drained and query.exception() is None, f"stream did not drain the published files: {query.exception()}")

    commits = sink_commits(sink)
    commit_of: dict[str, float] = {}
    for _, when, batch_files in commits:
        for i in sink_ids(batch_files):
            commit_of[i] = when
    check_sink_exactly_once(ctx, sink_ids([f for _, _, b in commits for f in b]), ledger.survivors, ledger.rejects, "ingest_live sink")
    final = health_check(spark, sink)
    ctx.check(
        final["total_records"] == len(ledger.survivors)
        and final["unique_users"] == len(ledger.users)
        and final["event_types"] == len(ledger.event_types),
        f"final health check {final} vs planted {len(ledger.survivors)} events / {len(ledger.users)} users",
    )
    latencies = [commit_of[i] - ledger.created[i] for i in ledger.survivors if i in commit_of]
    if not latencies:
        raise RuntimeError("ingest_live committed no planted survivor")
    last_commit = max(when for _, when, _ in commits)

    progresses = data_batches(query)
    if ctx.tracer.enabled:
        trace_batches(ctx, progresses)
        progress_layers(ctx, progresses)
        sink_layers(ctx, sink)
        busy = sum(p["durationMs"].get("triggerExecution", 0) for p in progresses) / 1000.0
        ctx.layer["pipeline.idle_s"] = max(stopped - started - busy, 0.0)
        ctx.layer["gen.late_p99_s"] = quantile([w - d for d, w in zip(ledger.file_due, ledger.file_written)], 0.99)
        ctx.layer["reader.queries_done"] = float(len(reads["latency"]))
        if reads["latency"]:
            ctx.layer["reader.query_p50_s"] = median(reads["latency"])
            ctx.layer["reader.query_p90_s"] = quantile(reads["latency"], 0.90)
        # time-averaged count of published files not yet in a committed batch
        file_commit = {}
        for i, when in commit_of.items():
            k = int(i[1:].split("-")[0])
            file_commit[k] = min(file_commit.get(k, when), when)
        ticks = [t0 + j * 0.05 for j in range(int((last_commit - t0) / 0.05) + 1)]
        ctx.layer["source.backlog_files"] = sum(
            sum(1 for k, w in enumerate(ledger.file_written) if w <= t < file_commit.get(k, last_commit)) for t in ticks
        ) / max(len(ticks), 1)
    shutil.rmtree(ctx.path(label), ignore_errors=True)
    return {
        "throughput_per_s": len(latencies) / (last_commit - t0),
        "latency_p50_s": median(latencies),
        "latency_tail_s": quantile(latencies, 0.99),
    }


# --------------------------------------------------------------------------
# backlog_drain
# --------------------------------------------------------------------------


def drain_setup(ctx: Ctx) -> None:
    stream_confs(ctx.spark)
    stage, drop = ctx.fresh_dir("backlog", "stage"), ctx.fresh_dir("backlog", "in")
    ctx.state["drop"] = drop
    ctx.state["ledger"] = gen.write_backlog(ctx.seed, stage, drop, DRAIN_FILES, DRAIN_EVENTS_PER_FILE)
    for _ in range(DRAIN_WARMUPS):
        drain_once(ctx, "warmup")


def drain_once(ctx: Ctx, label: str):
    """One checked drain into a fresh sink; returns (wall s, query, sink)."""
    ledger: gen.WireLedger = ctx.state["ledger"]
    sink, ck = ctx.fresh_dir(label, "out"), ctx.fresh_dir(label, "ck")
    with ctx.tracer.span("pipeline.drain"):
        s = time.time()
        query = run_pipeline(ctx.spark, ctx.state["drop"], sink, ck, available_now=True)
        query.awaitTermination()
        wall = time.time() - s
    ctx.check(query.exception() is None, f"drain failed: {query.exception()}")
    files = [f for _, _, b in sink_commits(sink) for f in b]
    check_sink_exactly_once(ctx, sink_ids(files), ledger.survivors, ledger.rejects, f"backlog_drain {label}")
    return wall, query, sink


def drain_measure(ctx: Ctx, label: str) -> dict[str, float]:
    events = DRAIN_FILES * DRAIN_EVENTS_PER_FILE
    walls, progresses = [], []
    end = time.time() + ctx.seconds
    n = 0
    while time.time() < end or len(walls) < 3:
        wall, query, sink = drain_once(ctx, f"{label}-{n}")
        walls.append(wall)
        progresses.extend(data_batches(query))
        if ctx.tracer.enabled and n == 0:
            sink_layers(ctx, sink)
        shutil.rmtree(ctx.path(f"{label}-{n}"), ignore_errors=True)
        n += 1
    if ctx.tracer.enabled:
        trace_batches(ctx, progresses)
        progress_layers(ctx, progresses)
    return {
        "throughput_per_s": events / median(walls),
        "latency_p50_s": median(walls),
        # ~10 drains a run: no percentile has ten samples beyond it, and
        # p90 is the slowest but one, so the tail is the third quartile
        "latency_tail_s": quantile(walls, 0.75),
    }


def transform_layers(ctx: Ctx) -> None:
    """Self time of each transform stage: cumulative prefixes of the
    chain, each forced through the noop sink over the same cached
    backlog (median of 3); a stage's time is its prefix minus the previous one."""
    spark = ctx.spark
    raw = spark.read.text(ctx.state["drop"]).cache()
    rows_in = raw.count()
    as_of = "2026-01-01 00:00:00"
    parsed = transforms.parse_wire(raw)
    valid = transforms.validate_required(parsed)
    coerced = transforms.coerce_types(valid, as_of=as_of)
    enriched = transforms.enrich(coerced)
    kept = transforms.quality_filter(enriched).select(*ENRICHED_COLUMNS)
    prefixes = [("parse", parsed), ("validate", valid), ("coerce", coerced), ("enrich", enriched), ("filter", kept)]
    previous = 0.0
    for stage, df in prefixes:
        walls = []
        for _ in range(3):
            with ctx.tracer.span(f"transforms.prefix.{stage}"):
                s = time.time()
                df.write.format("noop").mode("overwrite").save()
                walls.append(time.time() - s)
        cumulative = median(walls)
        ctx.layer[f"transforms.{stage}_s"] = cumulative - previous
        previous = cumulative
    rows_valid, rows_out = valid.count(), kept.count()
    ledger: gen.WireLedger = ctx.state["ledger"]
    ctx.check(rows_out == len(ledger.survivors), f"transform chain kept {rows_out} rows, planted {len(ledger.survivors)}")
    ctx.layer.update(
        {
            "transforms.rows_in": float(rows_in),
            "transforms.rows_valid": float(rows_valid),
            "transforms.rows_out": float(rows_out),
            "transforms.keep_ratio": rows_out / rows_in,
        }
    )
    raw.unpersist()
