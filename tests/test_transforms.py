"""Unit tests for the wire-format transform chain (T1-T9, E1-E4) against
the reference's exact semantics, using the DAG's canned test messages
(Streamingdag.py:384-404) and the app's sample events
(web-application.py:475-481) as known-answer inputs, plus the semantic
traps from SURVEY.md §4 (truthiness, 'unknown' sentinel, parse-fail->0)."""

import json

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from streaming_data_pipeline_spark.operators.transforms import (
    parse_wire,
    quality_filter,
    wire_pipeline,
)

AS_OF = "2024-01-31 00:00:00"


def wire_df(spark, events):
    return spark.createDataFrame([Row(value=json.dumps(e)) for e in events])


GOOD = {
    "id": "test-dag-001",
    "timestamp": "2024-01-15T10:00:00Z",
    "message": "Test message from DAG",
    "user_id": "dag_user",
    "event_type": "dag_test",
    "value": 1.0,
    "source": "airflow_dag",
}


def run(spark, events):
    return wire_pipeline(wire_df(spark, events), as_of=AS_OF).collect()


def test_happy_path_full_enrichment(spark):
    [r] = run(spark, [GOOD])
    assert r.id == "test-dag-001"
    assert r.message_length == len("Test message from DAG")
    assert r.event_hour == 10
    assert r.data_quality_score == 100  # all four +25 rules pass
    assert r.source == "airflow_dag"
    assert r.processed_at.isoformat().startswith("2024-01-31T00:00:00")
    assert r.timestamp.isoformat() == "2024-01-15T10:00:00"
    # a malformed as_of fails the run, with ANSI casts or without; it
    # never becomes the epoch
    key = "spark.sql.ansi.enabled"
    saved = spark.conf.get(key)
    try:
        for ansi, error in (("true", "CAST_INVALID_INPUT"), ("false", "malformed as_of")):
            spark.conf.set(key, ansi)
            with pytest.raises(Exception, match=error):
                wire_pipeline(wire_df(spark, [GOOD]), as_of="not a time").collect()
    finally:
        spark.conf.set(key, saved)


def test_second_canned_message_with_product(spark):
    e = dict(GOOD, id="test-dag-002", value=99.99, product_id="test_product_123")
    [r] = run(spark, [e])
    assert r.value == 99.99
    assert r.product_id == "test_product_123"
    assert r.currency is None  # absent optional -> NULL (T8)


def test_malformed_json_dropped(spark):
    df = wire_df(spark, [GOOD])
    bad = df.union(df.select(F.lit("{not json").alias("value")))
    assert len(wire_pipeline(bad, as_of=AS_OF).collect()) == 1  # T3


def test_missing_required_field_dropped(spark):
    e = {k: v for k, v in GOOD.items() if k != "user_id"}
    assert run(spark, [e]) == []  # T5


def test_unknown_keys_dropped(spark):
    e = dict(GOOD, totally_unknown_key="x", another=123)
    [r] = run(spark, [e])
    assert "totally_unknown_key" not in r.asDict()  # T9


def test_value_default_zero_and_score(spark):
    e = {k: v for k, v in GOOD.items() if k != "value"}
    [r] = run(spark, [e])
    assert r.value == 0.0  # T7 default
    assert r.data_quality_score == 75  # value>0 rule fails


def test_unknown_user_sentinel(spark):
    e = dict(GOOD, user_id="unknown")
    [r] = run(spark, [e])
    assert r.data_quality_score == 75  # E3 rule (a) fails


def test_empty_message_truthiness(spark):
    # empty string is falsy in Python: message rule AND required-presence
    # still passes (key present), but score drops by 25 and length is 0
    e = dict(GOOD, message="")
    [r] = run(spark, [e])
    assert r.data_quality_score == 75
    assert r.message_length == 0


def test_bad_timestamp_hour_fallback_zero(spark):
    e = dict(GOOD, timestamp="not-a-timestamp")
    [r] = run(spark, [e])
    assert r.event_hour == 0  # E2 bare-except -> 0
    # rule (d) scores RAW-string truthiness (Streamingdag.py:222): an
    # unparseable-but-non-empty timestamp still earns its 25
    assert r.data_quality_score == 100


def test_quality_filter_threshold(spark):
    # two rules fail -> score 50 -> kept; three fail -> 25 -> dropped (E4)
    keep = dict(GOOD, user_id="unknown", value=-1.0)
    drop = dict(GOOD, user_id="unknown", value=-1.0, message="")
    out = run(spark, [keep, drop])
    assert len(out) == 1 and out[0].data_quality_score == 50


def test_parse_wire_handles_binary_payload(spark):
    # T1: bytes -> string decode via cast; every edge case as in text
    df = spark.createDataFrame([Row(value=bytearray(v.encode("utf-8"))) for v in EDGE_LINES])
    assert _edge_rows(wire_pipeline(df, as_of=AS_OF).collect()) == EDGE_KEPT


def test_sample_events_scoring(spark):
    # the app's five sample events (web-application.py:475-481 shape)
    events = [
        dict(GOOD, id=f"s{i}", event_type=t, value=v)
        for i, (t, v) in enumerate(
            [("login", 1.0), ("purchase", 29.99), ("page_view", 1.0), ("logout", 0.5), ("click", 2.0)]
        )
    ]
    out = run(spark, events)
    assert len(out) == 5
    assert {r.data_quality_score for r in out} == {100}


# --------------------------------------------------------------------------
# Parse-once plan shape and parse edge cases
# --------------------------------------------------------------------------

# One line per parse edge case, plus rows that pass validation but score
# low, so the pre-filter observe metrics see every outcome.
EDGE_LINES = [
    json.dumps(GOOD),
    "{not json",  # malformed
    "null",  # a literal JSON null
    "",  # an empty line
    "[" + json.dumps(dict(GOOD, id="arr")) + "]",  # top-level array
    json.dumps(dict(GOOD, id="jnull", user_id=None)),  # required key = null
    json.dumps(dict(GOOD, id="jnull_msg", message=None)),
    json.dumps(dict(GOOD, id="low", user_id="unknown", value=-1.0, message="")),
    json.dumps(dict(GOOD, id="mid", user_id="unknown", value=-1.0)),
    json.dumps(dict(GOOD, id="noval", value=None)),
    json.dumps(dict(GOOD, id="numid", user_id=123)),
    json.dumps(dict(GOOD, id="badts", timestamp="nope")),
]

# (id, user_id, value, data_quality_score, message_length, event_hour) of
# every kept row, recorded from the chain before parse_wire went through
# inline(): the rejects above (malformed, null, empty, array, explicit
# null required key, score 25) are absent.
EDGE_KEPT = [
    ("badts", "dag_user", 1.0, 100, 21, 0),
    ("mid", "unknown", -1.0, 50, 21, 10),
    ("noval", "dag_user", 0.0, 75, 21, 10),
    ("numid", "123", 1.0, 100, 21, 10),
    ("test-dag-001", "dag_user", 1.0, 100, 21, 10),
]
EDGE_OBSERVED = {"rows": 6, "avg_quality": 75.0, "low_quality_rows": 1}


def _edge_rows(rows):
    return sorted(
        (r.id, r.user_id, r.value, r.data_quality_score, r.message_length, r.event_hour)
        for r in rows
    )


def test_wire_pipeline_parses_each_payload_once(spark):
    """validate_required's filter must read the parsed columns, not a
    copy of from_json per conjunct (the select("e.*") chain planned 14)."""
    out = wire_pipeline(wire_df(spark, [GOOD]), as_of=AS_OF)
    assert out._jdf.queryExecution().executedPlan().toString().count("from_json(") == 1


def test_enrich_raw_events_parses_props_once(spark):
    from streaming_data_pipeline_spark.operators.transforms import enrich_raw_events

    raw = spark.createDataFrame(
        [(1, None, 7, "click", 2.0, '{"source": "web"}')],
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string",
    )
    out = enrich_raw_events(raw, as_of=AS_OF)
    assert out._jdf.queryExecution().executedPlan().toString().count("from_json(") == 1
    [r] = out.collect()
    assert (r.id, r.source, r.page, r.event_hour, r.data_quality_score) == ("1", "web", None, 0, 75)


def test_parse_edge_cases_keep_and_reject_as_before(spark):
    df = spark.createDataFrame([Row(value=v) for v in EDGE_LINES])
    assert _edge_rows(wire_pipeline(df, as_of=AS_OF).collect()) == EDGE_KEPT


def test_stream_micro_batch_parses_once_and_observes_as_before(spark, tmp_path):
    """The same edge lines through the drop-dir source: one from_json in
    the micro-batch plan, the same kept rows, and the pre-filter observe
    metrics recorded before the parse change."""
    from streaming_data_pipeline_spark.streaming.sources import text_message_stream

    (tmp_path / "in").mkdir()
    (tmp_path / "in" / "batch0.jsonl").write_text("\n".join(EDGE_LINES) + "\n")
    stream = wire_pipeline(
        text_message_stream(spark, str(tmp_path / "in")), as_of=AS_OF, observe_quality="quality"
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    [progress] = [p for p in q.recentProgress if p["numInputRows"]]
    assert progress["numInputRows"] == len(EDGE_LINES)
    assert progress["observedMetrics"]["quality"].asDict() == EDGE_OBSERVED
    assert q._jsq.explainInternal(False).count("from_json(") == 1
    assert _edge_rows(spark.read.parquet(str(tmp_path / "out")).collect()) == EDGE_KEPT
