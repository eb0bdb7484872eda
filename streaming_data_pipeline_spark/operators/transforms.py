"""The core ETL transform chain (SURVEY.md §2.2-2.3, T1-T9 + E1-E4).

Reference: the ``ParsePubSubMessage`` DoFn (Streamingdag.py:159-236) — a
per-record parse/validate/coerce/enrich/filter. Here each step is a pure
DataFrame->DataFrame function built from Column expressions, so:

- no Python on the hot path: one ``from_json`` parse (see
  :func:`parse_wire`; interpreted, not codegen'd, and the dominant
  per-row cost) under one filter + project stage;
- the SAME functions apply to ``spark.read`` and ``spark.readStream``
  (batch/streaming symmetry, SURVEY.md §7);
- filters composed here are pushed down to the parquet scan by Catalyst.

Determinism: the reference stamps ``processed_at = utcnow()``
(Streamingdag.py:183-184). Every function takes an optional fixed ``as_of``
wall-clock injection point; `None` means real processing time: in a stream,
the batch timestamp of each micro-batch (one value per batch, the
``batchTimestampMs`` of its offset log entry); in a batch query, the query's
start. That stamp reaches the generated code as a referenced expression, not
as a literal, so a stream compiles its classes once, not once per batch
(see :func:`_processed_at`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from streaming_data_pipeline_spark.functions.scalars import (
    data_quality_score,
    event_hour_lenient,
    message_length,
    truthy_str,
)
from streaming_data_pipeline_spark.schema import (
    ENRICHED_COLUMNS,
    OPTIONAL_FIELDS,
    REQUIRED_FIELDS,
    WIRE_JSON_SCHEMA,
)

# Parse only the optional pass-through fields out of a JSON props payload.
_OPTIONAL_JSON_SCHEMA = ", ".join(f"{f} STRING" for f in OPTIONAL_FIELDS)


def _processed_at(as_of: str | None) -> Column:
    if as_of is None:
        # Each micro-batch swaps current_timestamp() for a literal of its
        # batch time, and whole-stage codegen writes timestamp literals
        # into the Java source: every batch would compile new classes and
        # run its rows through cold bytecode. aggregate() is evaluated
        # interpreted (CodegenFallback), so the stamp stays inside the
        # expression object the generated code references, and the source
        # is the same for every batch. The epoch is never taken; it keeps
        # the column non-null, as current_timestamp() is, so the sink's
        # parquet column stays required.
        stamp = F.aggregate(F.array(F.lit(0)), F.current_timestamp(), lambda acc, _: acc)
        return F.coalesce(stamp, F.lit(0).cast("timestamp")).cast("timestamp_ntz")
    # The cast alone is nullable, so a fixed as_of would write an optional
    # column where a real-time run writes a required one. The epoch is
    # never taken either: a malformed as_of fails the ANSI cast, or, with
    # ANSI casts off, the raise_error that its NULL reaches.
    fixed = F.lit(as_of).cast("timestamp_ntz")
    malformed = F.raise_error(F.lit(f"malformed as_of: {as_of!r}"))
    return F.coalesce(fixed, malformed, F.lit(0).cast("timestamp").cast("timestamp_ntz"))


def parse_wire(df: DataFrame, value_col: str = "value") -> DataFrame:
    """T1-T4: bytes/string payload -> parsed struct columns.

    ``from_json`` with the declared schema gives, by construction:
    malformed JSON -> NULL struct (dropped by :func:`validate_required`),
    unknown keys dropped (`ignoreUnknownValues`), absent keys -> NULL
    (Streamingdag.py:166-172, 187-203, 318-321).

    Expanded through ``inline(array(...))``, not ``select("e.*")``:
    Catalyst pushes :func:`validate_required`'s filter below a projection
    and copies ``from_json`` into each conjunct (six whole-line parses
    per row), but never below a ``Generate``, so each line is parsed once.
    """
    payload = F.col(value_col).cast("string")
    return df.select(F.inline(F.array(F.from_json(payload, WIRE_JSON_SCHEMA))))


def validate_required(df: DataFrame) -> DataFrame:
    """T5: drop records missing any required field (Streamingdag.py:175-181).

    Key-presence in the reference == NULL-ness after schema'd from_json.
    (Divergence note: a key explicitly present with JSON null passes the
    reference's presence check but is dropped here; the reference would then
    stringify it to 'None' — we treat that as a bug, not a behavior.)
    """
    cond = F.lit(True)
    for f in REQUIRED_FIELDS:
        cond = cond & F.col(f).isNotNull()
    return df.filter(cond)


def coerce_types(df: DataFrame, as_of: str | None = None) -> DataFrame:
    """T6-T7: stamp processed_at; str() casts + value default 0.0
    (Streamingdag.py:183-195). The wire `timestamp` string is also parsed to
    a real TIMESTAMP_NTZ (lenient: unparseable -> NULL, caught by E2's
    hour fallback)."""
    ts_str = F.col("timestamp").cast("string")
    return df.withColumns(
        {
            "processed_at": _processed_at(as_of),
            **{c: F.col(c).cast("string") for c in ("id", "user_id", "event_type", "message")},
            "value": F.coalesce(F.col("value").cast("double"), F.lit(0.0)),
            "event_time_str": ts_str,
            "timestamp": F.try_to_timestamp(F.regexp_replace(ts_str, "Z$", "+00:00")).cast("timestamp_ntz"),
        }
    )


def enrich(df: DataFrame) -> DataFrame:
    """E1-E3: message_length, event_hour, data_quality_score
    (Streamingdag.py:206-225). Expects the post-coercion column set; the
    lenient hour parse runs over the original wire string so the
    parse-failure->0 fallback is preserved."""
    return df.withColumns(
        {
            "message_length": message_length(F.col("message")),
            "event_hour": event_hour_lenient(F.col("event_time_str")),
            "data_quality_score": data_quality_score(
                F.col("user_id"),
                F.col("message"),
                F.col("value"),
                # reference scores the RAW wire string's truthiness, not
                # parse success (Streamingdag.py:222)
                truthy_str(F.col("event_time_str")),
            ),
        }
    )


def quality_filter(df: DataFrame, min_score: int = 50) -> DataFrame:
    """E4: keep iff data_quality_score >= 50 (Streamingdag.py:227-231)."""
    return df.filter(F.col("data_quality_score") >= F.lit(min_score))


def wire_pipeline(
    df: DataFrame,
    value_col: str = "value",
    as_of: str | None = None,
    observe_quality: str | None = None,
) -> DataFrame:
    """The full reference chain over a wire-format (JSON text) stream/batch:
    parse -> validate -> coerce -> enrich -> [observe] -> quality-filter ->
    19-col select. Works identically on ``spark.read.json`` batches and
    ``readStream``.

    ``observe_quality``: when set, attaches the health-check
    ``observe()`` node (streaming/pipeline.py) under this metric name
    BETWEEN enrich and the quality filter — the only placement where
    ``low_quality_rows`` measures anything: attached downstream of the
    filter the metric is structurally zero because every sub-50 row is
    already gone."""
    df = parse_wire(df, value_col)
    df = validate_required(df)
    df = coerce_types(df, as_of=as_of)
    df = enrich(df)
    if observe_quality:
        from streaming_data_pipeline_spark.streaming.pipeline import (
            with_quality_observation,
        )

        df = with_quality_observation(df, observe_quality)
    df = quality_filter(df)
    return df.select(*ENRICHED_COLUMNS)


def enrich_raw_events(df: DataFrame, as_of: str | None = None) -> DataFrame:
    """The same chain over the *fixture* raw events table
    (event_id, ts, user_id, event_type, value, props — FIXTURES.md §1).

    Canonical mapping: id=str(event_id), timestamp=ts, message=props (the
    JSON payload text doubles as the message body), user_id=str(user_id);
    the nine optional fields parse out of props (absent -> NULL, unknown
    keys like 'k' dropped — exercising T8/T9).

    CONTRACT DIFFERENCE vs wire_pipeline: no validate_required stage.
    The wire path validates required KEYS of an untrusted JSON payload;
    the fixture table's columns are schema-typed and non-null by the
    generator's invariant (FIXTURES.md), so there is nothing to
    validate — but a fixture regeneration that introduced NULL ts/props
    would surface here as rows the wire path drops (they score <=75 and
    mostly survive the >=50 gate). If that invariant ever changes, add
    the same null-drop to BOTH this chain and the ENRICHED_CTE oracle.
    """
    user_id = F.col("user_id").cast("string")
    value = F.coalesce(F.col("value").cast("double"), F.lit(0.0))
    e = df.withColumns(
        {
            "id": F.col("event_id").cast("string"),
            "timestamp": F.col("ts"),
            "message": F.col("props"),
            "user_id": user_id,
            "value": value,
            "processed_at": _processed_at(as_of),
            "opt": F.from_json(F.col("props"), _OPTIONAL_JSON_SCHEMA),
            "message_length": message_length(F.col("props")),
            "event_hour": F.coalesce(F.hour("ts"), F.lit(0)).cast("long"),
            "data_quality_score": data_quality_score(
                user_id, F.col("props"), value, F.col("ts").isNotNull()
            ),
        }
    )
    # one parse of props; the optional fields are read out of its struct
    e = quality_filter(e.select("*", "opt.*"))
    return e.select(*ENRICHED_COLUMNS)
