"""The end-to-end streaming ETL (SURVEY.md §3.1): the Spark twin of the
reference's ReadFromPubSub -> ParsePubSubMessage -> FixedWindows(60) ->
WriteToBigQuery graph (Streamingdag.py:266-330).

Mapping (SURVEY.md §2.4 W1): the reference's windowing carries NO
aggregation — it only batches records for the sink — so the native analog
is micro-batch cadence (``trigger(processingTime='60 seconds')``) feeding
an append-only parquet sink, partitioned by ``event_date``. The freshness
predicates (§2.7 P2) filter on ``timestamp``, not on the partition column,
so today they prune no partition: a ``timestamp >= cutoff`` filter over
the sink plans with ``PartitionFilters: []`` (ROADMAP D9 adds the implied
``event_date`` conjunct). The checkpoint gives exactly-once file commits —
strictly stronger than the reference's at-least-once streaming inserts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from streaming_data_pipeline_spark.operators.transforms import wire_pipeline
from streaming_data_pipeline_spark.streaming.sources import text_message_stream


def transform(messages: DataFrame, as_of: str | None = None) -> DataFrame:
    """Wire messages -> enriched 19-col records + event_date partition
    column. Identical function for batch and streaming inputs."""
    out = wire_pipeline(messages, value_col="value", as_of=as_of)
    return out.withColumn("event_date", F.to_date("timestamp"))


def run_pipeline(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    trigger_seconds: int = 60,
    available_now: bool = False,
    as_of: str | None = None,
) -> StreamingQuery:
    """Start the streaming ETL: drop-dir JSON lines -> enriched parquet.

    ``available_now=True`` drains everything currently in the input and
    stops (test/backfill mode); otherwise a 60 s processing-time trigger
    mirrors the reference's FixedWindows(60) batching cadence.
    """
    enriched = transform(text_message_stream(spark, input_dir), as_of=as_of)
    writer = (
        enriched.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .partitionBy("event_date")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def with_quality_observation(df: DataFrame, name: str = "quality") -> DataFrame:
    """Attach an ``observe()`` node emitting per-micro-batch data-quality
    metrics — the reference's health-check probe (SURVEY.md §2.5 A4 /
    W3, Streamingdag.py:435-470) as streaming-native observability.

    Metrics (row count, mean quality score, low-quality count) ride the
    existing plan — accumulated on executors during the pass the query
    already makes, NO second scan or extra shuffle — and surface per
    micro-batch in ``StreamingQueryProgress.observedMetrics[name]`` (and
    to any QueryListener for alerting). This is the scale-correct way to
    monitor a 100 TB stream: the alternative (a second aggregation
    query on the sink) re-reads everything it just wrote.

    Works identically on batch frames (metrics via DataFrame.observe +
    a QueryExecutionListener).

    PLACEMENT: attach BEFORE the quality filter (wire_pipeline's
    ``observe_quality`` hook does this) — attached after it,
    ``low_quality_rows`` is structurally zero because every sub-50 row
    has already been dropped, and the alerting probe can never fire.
    """
    return df.observe(
        name,
        F.count(F.lit(1)).alias("rows"),
        F.avg("data_quality_score").alias("avg_quality"),
        F.sum(
            F.when(F.col("data_quality_score") < 50, 1).otherwise(0)
        ).alias("low_quality_rows"),
    )
