"""Event-time windowed aggregations + streaming dedup (SURVEY.md §2.4
W1/W2 north-star extensions).

The reference never aggregates in-stream and never declares lateness;
Spark requires an explicit watermark before event-time aggregation in
append mode — these helpers make that contract explicit. State-scale
posture: watermarks bound window/dedup state; at 100 TB stream scale you
would additionally switch the state store to RocksDB
(``spark.sql.streaming.stateStore.providerClass``) so state spills off
heap, and keep window counts per (window x key) strictly bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _wm(events: DataFrame, ts_col: str, watermark: str) -> DataFrame:
    """withWatermark needs TIMESTAMP (not NTZ). NTZ->TIMESTAMP is
    wall-clock-identical ONLY under a UTC session timezone, so this
    helper pins it (same conf discipline as sources/batch.py's
    apply_runtime_confs) instead of assuming the caller did — a
    non-UTC session would silently shift every window boundary off
    epoch alignment AND off the NTZ data/oracle. Window bounds are
    cast back to NTZ on output for oracle parity.

    NOTE: this mutates SESSION-level conf — it affects every
    timestamp expression compiled in the same session afterwards, not
    just this plan. That is deliberate (mixed-timezone plans in one
    session are incoherent for this engine), but it must not be
    SILENT: if the session carries an explicit non-UTC timezone we
    warn before overwriting so the caller can see their setting was
    overridden rather than debugging shifted windows."""
    sess = events.sparkSession
    current = sess.conf.get("spark.sql.session.timeZone", None)
    if current not in (None, "UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
        import warnings

        warnings.warn(
            "streaming windows pin spark.sql.session.timeZone=UTC for the "
            f"whole session (was {current!r}); window/watermark semantics "
            "are defined against UTC wall-clock over TIMESTAMP_NTZ data",
            stacklevel=3,
        )
    sess.conf.set("spark.sql.session.timeZone", "UTC")
    return events.withColumn(ts_col, F.col(ts_col).cast("timestamp")).withWatermark(
        ts_col, watermark
    )


def tumbling_window_counts(
    events: DataFrame,
    ts_col: str = "timestamp",
    width: str = "60 seconds",
    watermark: str = "2 minutes",
    keys: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Fixed windows (the reference's FixedWindows(60), now with a real
    aggregation): count + value sum per window x key."""
    return (
        _wm(events, ts_col, watermark)
        .groupBy(F.window(ts_col, width).alias("w"), *keys)
        .agg(
            F.count("*").alias("event_count"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value_sum"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            *keys,
            "event_count",
            "value_sum",
        )
    )


def sliding_window_counts(
    events: DataFrame,
    ts_col: str = "timestamp",
    width: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Overlapping windows — the streaming twin of the app's 'events in
    the last 5 minutes' metric (web-application.py:310-311, A7)."""
    return (
        _wm(events, ts_col, watermark)
        .groupBy(F.window(ts_col, width, slide).alias("w"))
        .agg(F.count("*").alias("event_count"))
        .select(F.col("w.start").cast("timestamp_ntz").alias("window_start"), "event_count")
    )


def session_window_stats(
    events: DataFrame,
    ts_col: str = "timestamp",
    gap: str = "5 minutes",
    watermark: str = "10 minutes",
    key: str = "user_id",
) -> DataFrame:
    """Session windows (gap-based) per user: event count + session span."""
    return (
        _wm(events, ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("s"), key)
        .agg(F.count("*").alias("event_count"))
        .select(
            F.col("s.start").cast("timestamp_ntz").alias("session_start"),
            F.col("s.end").cast("timestamp_ntz").alias("session_end"),
            key,
            "event_count",
        )
    )


# The off-heap state store provider; one conf swaps it in for any
# stateful operator (``spark.sql.streaming.stateStore.providerClass``).
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def streaming_dedup(
    events: DataFrame,
    id_cols: tuple[str, ...] = ("id",),
    ts_col: str = "timestamp",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Exactly-once-per-id within the watermark horizon:
    dropDuplicatesWithinWatermark bounds dedup state (old keys expire
    with the watermark instead of growing forever — the only sane
    semantics for an unbounded stream).

    The timestamp column is cast back to TIMESTAMP_NTZ on output —
    _wm re-types it to TIMESTAMP for the watermark, and unlike the
    windowed siblings (whose outputs are fresh window bounds) this
    helper returns the INPUT columns, so without the cast-back a caller
    unioning with a batch NTZ frame or appending to an NTZ-typed sink
    would hit a silent schema drift."""
    out = _wm(events, ts_col, watermark).dropDuplicatesWithinWatermark(list(id_cols))
    return out.withColumn(ts_col, F.col(ts_col).cast("timestamp_ntz"))
