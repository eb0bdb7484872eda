"""The reference's analytical surface as named Spark plans + DuckDB oracles.

Covers SURVEY.md §2.2-2.3 (the ETL chain, as the `etl_enrich_events`
materialization), §2.5 A1-A9, §2.6 O1-O4, §2.7 P1-P3 and the §2.4 W1
tumbling-window analog. Reference SQL lives at README.md:186-205 and
Streamingdag.py:422-470; each function cites its origin.

All freshness predicates use the fixture's event time relative to the
fixed AS_OF clock (FIXTURES.md §4 determinism rules); widths are scaled
to fixture density where the reference's 10-minute windows would select
~0 rows (noted inline).

Scale notes: every query here is filter -> partial/final hash aggregate
-> (optional) sort, fully whole-stage-codegen'd. The AS_OF predicates
filter on `timestamp`, so over the date-partitioned sink they prune no
partition (the plan shows `PartitionFilters: []`; ROADMAP D9 adds the
implied `event_date` conjunct). `orderBy().limit(k)` compiles to
TakeOrderedAndProject (no global sort at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_data_pipeline_spark.plans.base import AS_OF, ENRICHED_CTE, enriched_events
from streaming_data_pipeline_spark.schema import ENRICHED_COLUMNS


def etl_enrich_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The enriched 19-column table itself (T1-T9 + E1-E4 end to end)."""
    return enriched_events(spark, sf_dir)


def event_type_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 (README.md:186-195): per-event-type count/avg/latest over a
    freshness window (widened 1h -> 24h for fixture density)."""
    ev = enriched_events(spark, sf_dir)
    return (
        ev.filter(F.col("timestamp") >= F.expr(f"TIMESTAMP '{AS_OF}' - INTERVAL 24 HOURS"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("event_count"),
            F.round(F.avg("value"), 4).alias("avg_value"),
            F.max("timestamp").alias("latest_event"),
        )
        .orderBy(F.desc("event_count"), "event_type")
    )


def quality_score_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 (README.md:197-205): quality-score histogram with avg message
    length over the last 24h."""
    ev = enriched_events(spark, sf_dir)
    return (
        ev.filter(F.col("timestamp") >= F.expr(f"TIMESTAMP '{AS_OF}' - INTERVAL 24 HOURS"))
        .groupBy("data_quality_score")
        .agg(
            F.count("*").alias("message_count"),
            F.round(F.avg("message_length"), 4).alias("avg_message_length"),
        )
        .orderBy(F.desc("data_quality_score"))
    )


def smoke_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 (Streamingdag.py:422-432): equality + time predicate scalar count
    (source='airflow_dag' analog -> event_type='purchase'; 10min -> 7 days)."""
    ev = enriched_events(spark, sf_dir)
    return ev.filter(
        (F.col("event_type") == "purchase")
        & (F.col("timestamp") >= F.expr(f"TIMESTAMP '{AS_OF}' - INTERVAL 7 DAYS"))
    ).agg(F.count("*").alias("record_count"))


def health_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 (Streamingdag.py:435-470): global multi-aggregate health probe.
    Exact COUNT(DISTINCT) for oracle parity; `health_check_approx` is the
    100 TB-scale variant."""
    ev = enriched_events(spark, sf_dir)
    return ev.filter(
        F.col("timestamp") >= F.expr(f"TIMESTAMP '{AS_OF}' - INTERVAL 24 HOURS")
    ).agg(
        F.count("*").alias("total_records"),
        F.countDistinct("user_id").alias("unique_users"),
        F.countDistinct("event_type").alias("event_types"),
        F.max("timestamp").alias("latest_event"),
    )


def value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 (web-application.py:282): event_type value_counts."""
    ev = enriched_events(spark, sf_dir)
    return (
        ev.groupBy("event_type")
        .agg(F.count("*").alias("count"))
        .orderBy(F.desc("count"), "event_type")
    )


def hour_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 (web-application.py:288-289): events per hour-of-day."""
    ev = enriched_events(spark, sf_dir)
    return (
        ev.withColumn("hour", F.hour("timestamp").cast("long"))
        .groupBy("hour")
        .agg(F.count("*").alias("event_count"))
        .orderBy("hour")
    )


def recent_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 (web-application.py:310-311): sliding recent-activity count
    (5 min -> 1 h for fixture density)."""
    ev = enriched_events(spark, sf_dir)
    return ev.filter(
        F.col("timestamp") > F.expr(f"TIMESTAMP '{AS_OF}' - INTERVAL 1 HOUR")
    ).agg(F.count("*").alias("recent_events"))


def global_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 (web-application.py:322): global average value."""
    ev = enriched_events(spark, sf_dir)
    return ev.agg(F.round(F.avg("value"), 4).alias("avg_value"))


def schema_introspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 (README.md:258-263): the enriched table's column inventory.
    Checks the Spark output schema against the declared 19 columns."""
    ev = enriched_events(spark, sf_dir)
    return spark.createDataFrame([(c,) for c in ev.columns], "column_name string")


def top5_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3/O4 + P1 (web-application.py:263-265, 296): newest-5 projection,
    id as deterministic tiebreak. Compiles to TakeOrderedAndProject."""
    ev = enriched_events(spark, sf_dir)
    return (
        ev.select("timestamp", "event_type", "user_id", "value", "id")
        .orderBy(F.desc("timestamp"), F.desc("id"))
        .limit(5)
    )


def windowed_counts_60s(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 (Streamingdag.py:302-308): 60-second tumbling windows as data —
    the batch analog of the stream's FixedWindows(60); here with a real
    per-window aggregation (count + value sum) the reference lacked."""
    ev = enriched_events(spark, sf_dir)
    return (
        ev.groupBy(F.window("timestamp", "60 seconds").alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("event_count"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value_sum"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "event_count",
            "value_sum",
        )
    )


QUERIES = {
    "etl_enrich_events": etl_enrich_events,
    "event_type_rollup": event_type_rollup,
    "quality_score_distribution": quality_score_distribution,
    "smoke_count": smoke_count,
    "health_check": health_check,
    "value_counts": value_counts,
    "hour_buckets": hour_buckets,
    "recent_count": recent_count,
    "global_mean": global_mean,
    "schema_introspection": schema_introspection,
    "top5_latest": top5_latest,
    "windowed_counts_60s": windowed_counts_60s,
}


_ENRICHED_COLS_SQL = ", ".join(
    f'"{c}"' if c == "timestamp" else c for c in ENRICHED_COLUMNS
)

ORACLE = {
    "etl_enrich_events": ENRICHED_CTE + f"SELECT {_ENRICHED_COLS_SQL} FROM enriched",
    "event_type_rollup": ENRICHED_CTE
    + f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS event_count,
           round(AVG(value), 4) AS avg_value,
           MAX("timestamp") AS latest_event
    FROM enriched
    WHERE "timestamp" >= TIMESTAMP '{AS_OF}' - INTERVAL 24 HOURS
    GROUP BY event_type
    ORDER BY event_count DESC, event_type
    """,
    "quality_score_distribution": ENRICHED_CTE
    + f"""
    SELECT data_quality_score,
           CAST(COUNT(*) AS BIGINT) AS message_count,
           round(AVG(message_length), 4) AS avg_message_length
    FROM enriched
    WHERE "timestamp" >= TIMESTAMP '{AS_OF}' - INTERVAL 24 HOURS
    GROUP BY data_quality_score
    ORDER BY data_quality_score DESC
    """,
    "smoke_count": ENRICHED_CTE
    + f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS record_count
    FROM enriched
    WHERE event_type = 'purchase'
      AND "timestamp" >= TIMESTAMP '{AS_OF}' - INTERVAL 7 DAYS
    """,
    "health_check": ENRICHED_CTE
    + f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS total_records,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS unique_users,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS event_types,
           MAX("timestamp") AS latest_event
    FROM enriched
    WHERE "timestamp" >= TIMESTAMP '{AS_OF}' - INTERVAL 24 HOURS
    """,
    "value_counts": ENRICHED_CTE
    + """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS count
    FROM enriched GROUP BY event_type
    ORDER BY count DESC, event_type
    """,
    "hour_buckets": ENRICHED_CTE
    + """
    SELECT CAST(hour("timestamp") AS BIGINT) AS hour,
           CAST(COUNT(*) AS BIGINT) AS event_count
    FROM enriched GROUP BY 1 ORDER BY hour
    """,
    "recent_count": ENRICHED_CTE
    + f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS recent_events
    FROM enriched
    WHERE "timestamp" > TIMESTAMP '{AS_OF}' - INTERVAL 1 HOUR
    """,
    "global_mean": ENRICHED_CTE + "SELECT round(AVG(value), 4) AS avg_value FROM enriched",
    "schema_introspection": "SELECT column_name FROM (VALUES "
    + ", ".join(f"('{c}')" for c in ENRICHED_COLUMNS)
    + ") AS t(column_name)",
    "top5_latest": ENRICHED_CTE
    + """
    SELECT "timestamp", event_type, user_id, value, id
    FROM enriched
    ORDER BY "timestamp" DESC, id DESC
    LIMIT 5
    """,
    "windowed_counts_60s": ENRICHED_CTE
    + """
    SELECT date_trunc('minute', "timestamp") AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS event_count,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
    FROM enriched
    GROUP BY 1, 2
    """,
}
