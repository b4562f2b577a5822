"""Structured Streaming re-bindings of the batch queries (SURVEY.md §7
Phase 4).

The reference's streaming job (reference spark_consumer.py:19-53) is:
Kafka → CAST value → json_tuple → to_timestamp → withWatermark(1 min) →
groupBy(type, window 1 min).count() → scaled_count → console/complete/2 s.

The engine keeps that lifecycle but fixes the semantic wart the reference
ships (SURVEY.md §2.9 ST1): complete output mode makes the declared
watermark inert — state grows without bound and every window ever seen is
re-emitted each trigger. Default here is **update** mode (append where the
sink needs finals); the watermark then actually evicts state.

The module holds that path — wire decode and the watermarked windowed
counts — plus the decode-failure feeds (``split_quarantine``,
``with_wire_metrics``, ``dq_monitor_stream``). Every function below is a
pure logical transformation on an (unbounded) DataFrame — the same code
binds to a Kafka source in production, a file source in tests, or a
batch frame for equivalence checks; Catalyst's incremental planner does
the rest. Streaming twins of the other batch queries are not kept: the
batch queries, each checked against its DuckDB oracle, are their served
form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import EMOJI_EVENT_WIRE_SCHEMA, ISO_MICROS_FMT

DEFAULT_WATERMARK = "1 minute"  # reference spark_consumer.py:38


def _event_time(df: DataFrame, ts_col: str) -> DataFrame:
    """Watermarks require TimestampType (TIMESTAMP_NTZ is rejected as an
    event-time column), so normalize — value-preserving under the engine's
    pinned UTC session."""
    return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))


def decode_wire_events(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Kafka binary value → typed event columns.

    Engine standardizes on schema-checked ``from_json`` (the reference
    declares a schema then uses untyped ``json_tuple`` instead —
    spark_consumer.py:13-17 vs 28-30) and parses the ISO-8601-micros
    timestamp WITHOUT the LEGACY parser policy (spark_consumer.py:10,
    SURVEY.md §7 hard-part 3)."""
    parsed = raw.select(
        F.from_json(
            F.col(value_col).cast("string"), EMOJI_EVENT_WIRE_SCHEMA
        ).alias("e")
    ).select("e.*")
    # Accept the wire variants the reference actually produces: 6-digit
    # micros (client.py:111 isoformat()), millis+Z (emojitest.py:15,
    # browser toISOString) — try_to_timestamp because ANSI to_timestamp
    # throws on the first non-matching row.
    ts = F.coalesce(
        F.try_to_timestamp(F.col("timestamp"), F.lit(ISO_MICROS_FMT)),
        F.try_to_timestamp(
            F.col("timestamp"), F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
        ),
        F.try_to_timestamp(
            F.col("timestamp"), F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
        ),
        F.try_to_timestamp(F.col("timestamp")),
    )
    return parsed.withColumn("ts", ts)


def windowed_counts_scaled(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_dur: str = "1 minute",
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """The reference's core aggregation (spark_consumer.py:37-47):
    per-(key, tumbling window) count with the conditional scaling
    expression. Works unchanged on a streaming or batch frame."""
    events = _event_time(events, ts_col)
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.col(key_col), F.window(F.col(ts_col), window_dur))
        .agg(F.count("*").alias("cnt"))
        .withColumn(
            "scaled_count",
            F.when(F.col("cnt") <= 1000, F.lit(1)).otherwise(
                F.col("cnt") / F.lit(1000.0)
            ),
        )
        .select(key_col, "window", "cnt", "scaled_count")
    )


def sliding_rolling_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_dur: str = "3 minutes",
    slide: str = "1 minute",
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """The Python analytics service's 3-minute rolling window (reference
    analytical_server.py:42-61) in its Spark-native form: a sliding
    event-time window. Unlike the deque version, late-but-within-watermark
    events land in their own minute, and state is evicted by the watermark
    (SURVEY.md §2.9 ST4)."""
    events = _event_time(events, ts_col)
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.col(key_col), F.window(F.col(ts_col), window_dur, slide))
        .agg(F.count("*").alias("cnt"))
    )


def split_quarantine(
    decoded: DataFrame,
    required: tuple[str, ...] = ("user_id", "emoji_type"),
    ts_col: str = "ts",
) -> tuple[DataFrame, DataFrame]:
    """Valid/quarantine split after wire decode — the engine's form of the
    gateway's presence validation (reference api_server.py:55-56 returns
    400; the engine keeps the rejects as data). ``from_json`` yields null
    fields for corrupt or incomplete payloads and ``decode_wire_events``
    yields a null ``ts`` for unparseable timestamps, so the predicate is a
    null check — no second parse. Both halves share one scan; routing
    them to different sinks is `fanout_foreach_batch` with a filter per
    sink (or two queries on the source)."""
    ok = F.lit(True)
    for c in required:
        ok = ok & F.col(c).isNotNull()
    ok = ok & F.col(ts_col).isNotNull()
    return decoded.filter(ok), decoded.filter(~ok)


def with_wire_metrics(decoded: DataFrame, name: str = "wire_metrics") -> DataFrame:
    """Attach per-micro-batch observability to the decode stage: row
    count, decode failures (null required fields), and timestamp-parse
    failures, surfaced through ``StreamingQueryProgress.observedMetrics``
    — production monitoring without a second pass or a side query (the
    metrics ride the existing plan as accumulators)."""
    return decoded.observe(
        name,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(
                F.col("user_id").isNull() | F.col("emoji_type").isNull(), 1
            ).otherwise(0)
        ).alias("n_decode_failures"),
        F.sum(F.when(F.col("ts").isNull(), 1).otherwise(0)).alias(
            "n_ts_failures"
        ),
    )


DQ_STREAM_TYPES = ("click", "view", "purchase", "signup", "error")


def dq_monitor_stream(
    events: DataFrame,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    window: str = "1 minute",
) -> DataFrame:
    """Streaming twin of ``q_dq_audit``'s per-row checks: a windowed
    CONSTRAINT MONITOR emitting, per tumbling window, the row count and
    the violation counts for the non-null and value-domain rules — the
    continuous form of the batch audit (uniqueness and referential
    integrity need cross-batch state and stay batch-side).

    Same conditional-sum arithmetic as the batch audit, so a replay of
    the same rows produces identical counts (pinned by
    tests/test_streaming.py). Wire this to an alerting sink via
    ``fanout_foreach_batch`` with a ``violations > 0`` filter."""
    events = _event_time(events, ts_col)
    bad_type = ~F.col("event_type").isin(*DQ_STREAM_TYPES)
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0)).alias(
                "null_user_violations"
            ),
            F.sum(F.when(bad_type, 1).otherwise(0)).alias(
                "domain_violations"
            ),
        )
    )
