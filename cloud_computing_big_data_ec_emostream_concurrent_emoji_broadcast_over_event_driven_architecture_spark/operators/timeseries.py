"""Event-time time-series operators — the reference's core query surface.

Batch forms of the reference's two aggregation engines:
- the PySpark job (reference spark_consumer.py:40-47): per-minute tumbling
  count per type + conditional scaling;
- the Python analytics service (reference analytical_server.py:12-109):
  per-minute buckets, 3-minute rolling window, stats rollup, last-N
  time-series, dashboard pivot/zero-fill (templates + JS at
  analytical_server.py:444-512).

All are pure built-in DataFrame ops — whole-stage-codegen'd, no Python in
the hot path. Streaming re-bindings live in ``..streaming``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.stable import stable_round, stable_round_sql
from ..plans.registry import register
from ..schemas import ISO_MICROS_FMT

# The driver's events table has exactly these types (FIXTURES.md §1); the
# reference's analogue is the fixed 10-emoji list (reference client.py:29).
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

# The reference's emoji vocabulary (client.py:29) — multi-codepoint UTF-8
# grouping keys that must survive shuffle (SURVEY.md §7 hard-part 4).
EMOJIS = ("👍", "❤️", "😂", "🎉", "😢", "🔥", "👏", "🏆", "😮", "💔")


def minute_counts(events: DataFrame) -> DataFrame:
    """Per-(event_type, minute) counts — reference spark_consumer.py:40-42
    (streaming tumbling window) in batch form: ``date_trunc`` is the batch
    twin of ``window(ts, "1 minute")``."""
    return events.groupBy(
        "event_type", F.date_trunc("minute", F.col("ts")).alias("minute")
    ).agg(F.count("*").alias("cnt"))


@register(
    "q_window_count_scaled",
    headline=True,
    tags=("reference-core", "agg", "time"),
    oracle="""
        SELECT event_type,
               date_trunc('minute', ts)                    AS minute,
               COUNT(*)                                    AS cnt,
               CASE WHEN COUNT(*) <= 1000 THEN 1
                    ELSE COUNT(*) / 1000.0 END             AS scaled_count
        FROM events GROUP BY 1, 2
    """,
)
def q_window_count_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the reference's whole query (spark_consumer.py:40-47) —
    per-minute count per type with the conditional scaling expression
    ``1 if cnt<=1000 else cnt/1000`` (spark_consumer.py:43-46)."""
    return minute_counts(table(spark, sf_dir, "events")).withColumn(
        "scaled_count",
        F.when(F.col("cnt") <= 1000, F.lit(1)).otherwise(F.col("cnt") / F.lit(1000.0)),
    )


@register(
    "q_total_per_minute",
    tags=("reference-core", "agg", "time"),
    oracle="""
        SELECT date_trunc('minute', ts) AS minute, COUNT(*) AS cnt
        FROM events GROUP BY 1
    """,
)
def q_total_per_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global per-minute totals — reference analytical_server.py:54-61
    (``total_counts`` deque) as a grouped aggregation."""
    return (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("minute", F.col("ts")).alias("minute"))
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "q_rolling_3min",
    headline=True,
    tags=("reference-core", "window", "time"),
    oracle="""
        WITH m AS (
            SELECT event_type, date_trunc('minute', ts) AS minute,
                   COUNT(*) AS cnt
            FROM events GROUP BY 1, 2
        )
        SELECT event_type, minute, cnt,
               CAST(SUM(cnt) OVER (
                   PARTITION BY event_type
                   ORDER BY CAST(epoch(minute) AS BIGINT)
                   RANGE BETWEEN 120 PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS rolling_3min
        FROM m
    """,
)
def q_rolling_3min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-minute rolling sum over minute buckets per type — the Python
    analytics service's deque window (reference analytical_server.py:42-61,
    96-109) done right: an event-time range frame, gap-correct (a missing
    minute contributes nothing — the deque version assumed dense arrival,
    SURVEY.md §2 ST4)."""
    m = minute_counts(table(spark, sf_dir, "events"))
    epoch = F.unix_timestamp(F.col("minute").cast("timestamp"))
    w = (
        Window.partitionBy("event_type")
        .orderBy(epoch)
        .rangeBetween(-120, Window.currentRow)
    )
    return m.select(
        "event_type", "minute", "cnt", F.sum("cnt").over(w).alias("rolling_3min")
    )


@register(
    "q_stats_breakdown",
    tags=("reference-core", "agg"),
    oracle="""
        WITH b AS (
            SELECT event_type, COUNT(*) AS cnt,
                   CAST(ROUND(SUM(CAST(value AS DECIMAL(28,10))), 2) AS DOUBLE) AS sum_value,
                   ROUND(CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE)
                         / COUNT(*), 6) AS avg_value
            FROM events GROUP BY 1
        )
        SELECT event_type, cnt, sum_value, avg_value,
               ROUND(cnt / SUM(cnt) OVER (), 6) AS share
        FROM b
    """,
)
def q_stats_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type stats rollup — the ``/api/stats`` ``emoji_breakdown``
    payload (reference analytical_server.py:96-109) as a grouped agg plus a
    global-share window."""
    b = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum(F.col("value").cast("decimal(28,10)")), 2)
            .cast("double")
            .alias("sum_value"),
            F.round(
                F.sum(F.col("value").cast("decimal(28,10)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_value"),
        )
    )
    return b.withColumn(
        "share",
        F.round(F.col("cnt") / F.sum("cnt").over(Window.partitionBy()), 6),
    )


@register(
    "q_unique_types",
    tags=("reference-core", "agg"),
    oracle="SELECT COUNT(DISTINCT event_type) AS unique_types FROM events",
)
def q_unique_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-distinct of the grouping key — the dashboard's "Unique Types"
    tile (reference analytical_server.py:473)."""
    return (
        table(spark, sf_dir, "events")
        .agg(F.countDistinct("event_type").alias("unique_types"))
    )


@register(
    "q_approx_unique_users",
    tags=("scale", "agg"),
    oracle=None,  # HLL sketches differ across engines — rows-only check
)
def q_approx_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB twin of q_unique_types: ``approx_count_distinct`` (HLL++)
    over users — a single pass, no exact-distinct shuffle explosion."""
    return (
        table(spark, sf_dir, "events")
        .agg(F.approx_count_distinct("user_id", 0.02).alias("approx_users"))
    )


@register(
    "q_last10",
    tags=("reference-core", "sort", "limit"),
    oracle="""
        SELECT minute, cnt FROM (
            SELECT date_trunc('minute', ts) AS minute, COUNT(*) AS cnt
            FROM events GROUP BY 1
        ) ORDER BY minute DESC LIMIT 10
    """,
)
def q_last10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-10 minute buckets — the dashboard's ``slice(-10)`` (reference
    analytical_server.py:444). ``orderBy(desc).limit`` plans as
    ``TakeOrderedAndProject`` — no global sort at scale."""
    return (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("minute", F.col("ts")).alias("minute"))
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("minute"))
        .limit(10)
    )


@register(
    "q_pivot_timeseries",
    tags=("reference-core", "pivot"),
    oracle="""
        SELECT date_trunc('minute', ts) AS minute,
               COUNT(*) FILTER (WHERE event_type = 'click')    AS click,
               COUNT(*) FILTER (WHERE event_type = 'error')    AS error,
               COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
               COUNT(*) FILTER (WHERE event_type = 'signup')   AS signup,
               COUNT(*) FILTER (WHERE event_type = 'view')     AS view
        FROM events GROUP BY 1
    """,
)
def q_pivot_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series alignment: one row per minute, one column per type,
    zero-filled — the dashboard's chart alignment loop (reference
    analytical_server.py:496-512). Explicit pivot values keep the plan a
    single pass (no extra distinct job) and the schema stable at scale."""
    return (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("minute", F.col("ts")).alias("minute"))
        .pivot("event_type", list(EVENT_TYPES))
        .count()
        .na.fill(0, list(EVENT_TYPES))
    )


@register(
    "q_distinct_minutes",
    tags=("reference-core", "distinct"),
    oracle="SELECT DISTINCT date_trunc('minute', ts) AS minute FROM events",
)
def q_distinct_minutes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct minute buckets — the dashboard's ``[...new Set(timestamps)]``
    (reference analytical_server.py:497-499)."""
    return (
        table(spark, sf_dir, "events")
        .select(F.date_trunc("minute", F.col("ts")).alias("minute"))
        .distinct()
    )


@register(
    "q_topk_per_minute",
    tags=("window", "topk"),
    oracle="""
        WITH m AS (
            SELECT date_trunc('minute', ts) AS minute, event_type,
                   COUNT(*) AS cnt
            FROM events GROUP BY 1, 2
        )
        SELECT minute, event_type, cnt, rn FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY minute ORDER BY cnt DESC, event_type
            ) AS rn
            FROM m
        ) WHERE rn <= 3
    """,
)
def q_topk_per_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 types per minute — rank-filter (SURVEY.md §2.6). Deterministic
    tie-break on event_type (hard-part 7)."""
    m = (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("minute", F.col("ts")).alias("minute"), "event_type")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("minute").orderBy(F.desc("cnt"), F.asc("event_type"))
    return m.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)


@register(
    "q_json_extract",
    tags=("reference-core", "json"),
    oracle="""
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        FROM events
    """,
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction — the engine's ``get_json_object`` twin of the
    reference's ``json_tuple`` decode (reference spark_consumer.py:28-30) on
    the ``events.props`` JSON column."""
    return table(spark, sf_dir, "events").select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


@register(
    "q_json_struct_decode",
    tags=("reference-core", "json", "agg"),
    oracle="""
        SELECT event_type,
               ROUND(AVG(CAST(json_extract_string(props, '$.k') AS INTEGER)), 6)
                   AS avg_k
        FROM events GROUP BY 1
    """,
)
def q_json_struct_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-checked JSON decode (``from_json`` — the engine's standard,
    SURVEY.md §2 J1) feeding an aggregation."""
    ev = table(spark, sf_dir, "events")
    parsed = ev.withColumn(
        "pr", F.from_json(F.col("props"), "struct<k:int>")
    )
    return parsed.groupBy("event_type").agg(
        F.round(F.avg(F.col("pr.k")), 6).alias("avg_k")
    )


@register(
    "q_timestamp_parse",
    tags=("reference-core", "time"),
    oracle="""
        SELECT event_id,
               strptime(strftime(ts, '%Y-%m-%dT%H:%M:%S.%f'),
                        '%Y-%m-%dT%H:%M:%S.%f') AS parsed
        FROM events
    """,
)
def q_timestamp_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-8601-micros round trip — reference spark_consumer.py:32-35's
    ``to_timestamp(col, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")`` WITHOUT the LEGACY
    parser policy (SURVEY.md §7 hard-part 3): the Spark 3+ parser handles
    6-digit fractions natively."""
    ev = table(spark, sf_dir, "events")
    ts_type = ev.schema["ts"].dataType
    return ev.select(
        "event_id",
        F.to_timestamp(F.date_format("ts", ISO_MICROS_FMT), ISO_MICROS_FMT)
        .cast(ts_type)
        .alias("parsed"),
    )


@register(
    "q_validate_presence",
    tags=("reference-core", "filter"),
    oracle="""
        SELECT COUNT(*) FILTER (WHERE user_id IS NOT NULL
                                  AND event_type IS NOT NULL
                                  AND ts IS NOT NULL) AS accepted,
               COUNT(*) FILTER (WHERE user_id IS NULL
                                   OR event_type IS NULL
                                   OR ts IS NULL) AS rejected
        FROM events
    """,
)
def q_validate_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest presence-validation (reference api_server.py:55-56: 400 on a
    missing field) as an accept/quarantine count — the declarative twin of
    the gateway's per-request check."""
    ev = table(spark, sf_dir, "events")
    ok = (
        F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
    )
    return ev.agg(
        F.sum(F.when(ok, 1).otherwise(0)).alias("accepted"),
        F.sum(F.when(~ok, 1).otherwise(0)).alias("rejected"),
    )


def _emoji_values_sql() -> str:
    rows = ", ".join(
        f"('{e}')" for i, e in enumerate(EMOJIS) for _ in range(i + 1)
    )
    return f"SELECT emoji, COUNT(*) AS cnt FROM (VALUES {rows}) t(emoji) GROUP BY 1"


@register(
    "q_emoji_roundtrip",
    tags=("reference-core", "utf8"),
    oracle=_emoji_values_sql(),
)
def q_emoji_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-codepoint emoji grouping keys survive shuffle + UTF-8 round
    trip (reference client.py:29; SURVEY.md §7 hard-part 4). Emoji i appears
    i+1 times; grouping must preserve the exact byte sequences."""
    rows = [(e,) for i, e in enumerate(EMOJIS) for _ in range(i + 1)]
    df = spark.createDataFrame(rows, "emoji string")
    return df.groupBy("emoji").agg(F.count("*").alias("cnt"))


@register(
    "q_distinct_users_per_minute",
    tags=("reference-core", "agg", "distinct", "time"),
    oracle="""
        SELECT date_trunc('minute', ts) AS minute,
               COUNT(DISTINCT user_id) AS n_users
        FROM events
        GROUP BY 1
    """,
)
def q_distinct_users_per_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Active users per minute — the dashboard's 'unique senders' series
    (exact). Catalyst expands COUNT(DISTINCT) into the two-phase
    (minute, user) pre-aggregation automatically; the approximate twin at
    100 TB is approx_count_distinct (q_approx_unique_users)."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("minute", "ts").alias("minute")
    ).agg(F.countDistinct("user_id").alias("n_users"))


@register(
    "q_dense_minutes",
    tags=("reference-core", "time", "gapfill"),
    oracle="""
        WITH bounds AS (
            SELECT date_trunc('minute', MIN(ts)) AS lo,
                   date_trunc('minute', MAX(ts)) AS hi
            FROM events
        ),
        cal AS (
            SELECT unnest(generate_series(lo, hi, INTERVAL 1 MINUTE))
                       AS minute
            FROM bounds
        ),
        cnts AS (
            SELECT date_trunc('minute', ts) AS minute, COUNT(*) AS cnt
            FROM events GROUP BY 1
        )
        SELECT cal.minute, COALESCE(cnts.cnt, 0) AS cnt,
               CASE WHEN cnts.minute IS NULL THEN 1 ELSE 0 END AS is_gap
        FROM cal LEFT JOIN cnts ON cal.minute = cnts.minute
    """,
)
def q_dense_minutes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-minute series with gap filling: generate the full minute
    calendar between the data's bounds (sequence + explode — one row from
    the bounds aggregate fans out JVM-side), left-join the sparse counts,
    zero-fill the holes. This is the dashboard's zero-fill
    (analytical_server.py:504-507 does it in JS per request) moved into
    the engine; at 100 TB the calendar side is minutes-not-rows (tiny)
    and broadcast, so the fill costs one broadcast join over the
    already-aggregated counts."""
    ev = table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("minute", F.min("ts")).alias("lo"),
        F.date_trunc("minute", F.max("ts")).alias("hi"),
    )
    cal = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 MINUTE"))
        ).alias("minute")
    )
    cnts = ev.groupBy(F.date_trunc("minute", "ts").alias("minute")).agg(
        F.count("*").alias("cnt")
    )
    return (
        cal.join(
            cnts.withColumnRenamed("minute", "cminute"),
            F.col("minute") == F.col("cminute"),
            "left",
        )
        .select(
            "minute",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
            F.when(F.col("cminute").isNull(), 1).otherwise(0).alias("is_gap"),
        )
    )


@register(
    "q_unpivot",
    tags=("reference-core", "pivot", "setop"),
    oracle="""
        WITH wide AS (
            SELECT date_trunc('minute', ts) AS minute,
                   COUNT(*) FILTER (WHERE event_type = 'click')    AS click,
                   COUNT(*) FILTER (WHERE event_type = 'error')    AS error,
                   COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
                   COUNT(*) FILTER (WHERE event_type = 'signup')   AS signup,
                   COUNT(*) FILTER (WHERE event_type = 'view')     AS view
            FROM events GROUP BY 1
        )
        SELECT minute, 'click' AS event_type, click AS cnt FROM wide
        UNION ALL
        SELECT minute, 'error', error FROM wide
        UNION ALL
        SELECT minute, 'purchase', purchase FROM wide
        UNION ALL
        SELECT minute, 'signup', signup FROM wide
        UNION ALL
        SELECT minute, 'view', view FROM wide
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): the inverse of q_pivot_timeseries — wide per-minute
    columns back to long (minute, event_type, cnt) rows, zero counts
    included (the round trip is lossless because the pivot zero-fills).
    ``DataFrame.unpivot`` plans as an Expand node: each input row emits 5
    output rows in-place, no shuffle beyond the pivot's own aggregate —
    the schema-normalization pass a wide metrics table needs before a
    long-format sink at scale."""
    ev = table(spark, sf_dir, "events")
    wide = (
        ev.groupBy(F.date_trunc("minute", "ts").alias("minute"))
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(EVENT_TYPES))
    )
    return wide.unpivot(
        ids=["minute"],
        values=list(EVENT_TYPES),
        variableColumnName="event_type",
        valueColumnName="cnt",
    )


@register(
    "q_minute_ohlc",
    tags=("timeseries", "agg"),
    oracle="""
        WITH ranked AS (
            SELECT date_trunc('minute', ts) AS minute, value,
                   ROW_NUMBER() OVER (PARTITION BY date_trunc('minute', ts)
                                      ORDER BY ts, event_id) AS rn_a,
                   ROW_NUMBER() OVER (PARTITION BY date_trunc('minute', ts)
                                      ORDER BY ts DESC, event_id DESC) AS rn_d
            FROM events
        )
        SELECT minute,
               MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
               MAX(value) AS high,
               MIN(value) AS low,
               MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
               COUNT(*) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(28,10))), 4) AS DOUBLE) AS volume
        FROM ranked GROUP BY minute
    """,
)
def q_minute_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candle rollup: per-minute open (first value by event time,
    event_id tie-break), high, low, close (last value), count, and
    volume. Spark-side open/close use ``min_by``/``max_by`` keyed on a
    (ts, event_id) struct — ordered aggregation without a Window node, so
    the whole candle computes in ONE partial+final aggregate (struct keys
    plan it as SortAggregate; the oracle's two ROW_NUMBER passes are the
    non-Spark formulation). At 100 TB this is a single
    map-side-combined pass over the event log.
    open/high/low/close are stored doubles passed through untouched —
    no float summation to harden; only volume needs the decimal sum."""
    ev = table(spark, sf_dir, "events")
    ord_key = F.struct(F.col("ts"), F.col("event_id"))
    return ev.groupBy(F.date_trunc("minute", "ts").alias("minute")).agg(
        F.min_by("value", ord_key).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", ord_key).alias("close"),
        F.count("*").alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(28,10)")), 4)
        .cast("double")
        .alias("volume"),
    )


@register(
    "q_dow_hour_heatmap",
    tags=("timeseries", "agg"),
    oracle="""
        SELECT CAST(date_part('isodow', ts) AS INTEGER) AS iso_dow,
               CAST(date_part('hour', ts) AS INTEGER) AS hour,
               COUNT(*) AS cnt,
               COUNT(DISTINCT user_id) AS uniq_users
        FROM events GROUP BY 1, 2
    """,
)
def q_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour activity heatmap (the dashboard rollup shape):
    168 output cells regardless of input size — partial aggregation
    absorbs everything map-side. ISO day numbering is computed explicitly
    (``weekday()+1``) because engines disagree on week-start conventions
    (Spark's ``dayofweek`` is Sunday=1, DuckDB's ``dayofweek`` Sunday=0 —
    the classic cross-engine off-by-one)."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy(
        (F.weekday("ts") + 1).cast("int").alias("iso_dow"),
        F.hour("ts").cast("int").alias("hour"),
    ).agg(
        F.count("*").alias("cnt"),
        F.countDistinct("user_id").alias("uniq_users"),
    )


DECAY_TAU_SEC = 3600.0  # e-folding time for recency weighting


@register(
    "q_decayed_counts",
    tags=("timeseries", "decay"),
    oracle=f"""
        WITH mx AS (SELECT MAX(ts) AS mts FROM events)
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               ROUND(SUM(exp(-date_diff('second', ts, mts)
                     / {DECAY_TAU_SEC})), 6) AS decayed
        FROM events, mx
        GROUP BY event_type
    """,
)
def q_decayed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed event counts per type — the recency-
    weighted popularity score a trending/ranking service keeps (each event
    contributes exp(-age/τ); an event τ old counts 1/e). The anchor is the
    corpus max timestamp, computed as a 1-row broadcast (no driver
    round-trip); the decay weight is a per-row expression folded into the
    same single aggregation as the plain count — recency scoring costs no
    extra pass and no extra shuffle at any scale. Incremental form: the
    streaming twin is a windowed sum re-anchored per trigger (scores decay
    by a constant factor between triggers)."""
    events = table(spark, sf_dir, "events")
    mx = events.agg(F.max("ts").alias("mts"))
    age_sec = F.unix_timestamp("mts") - F.unix_timestamp("ts")
    return (
        events.crossJoin(F.broadcast(mx))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.round(
                F.sum(F.exp(-age_sec / F.lit(DECAY_TAU_SEC))), 6
            ).alias("decayed"),
        )
    )


ANOMALY_Z = 3.0


@register(
    "q_events_anomaly",
    tags=("timeseries", "anomaly"),
    oracle=f"""
        WITH m AS (
            SELECT event_type, date_trunc('minute', ts) AS minute,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM events GROUP BY 1, 2
        ),
        s AS (
            SELECT event_type, AVG(cnt) AS mu, STDDEV_SAMP(cnt) AS sd
            FROM m GROUP BY 1
        )
        SELECT m.event_type, m.minute, m.cnt,
               ROUND((m.cnt - s.mu) / NULLIF(s.sd, 0), 6) AS zscore,
               CASE WHEN ABS((m.cnt - s.mu) / NULLIF(s.sd, 0))
                        > {ANOMALY_Z} THEN 1 ELSE 0 END AS is_anomaly
        FROM m JOIN s USING (event_type)
    """,
)
def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-anomaly detection: z-score of each (type, minute) count
    against that type's own distribution, |z| > 3 flagged — the 3-sigma
    alert a stream-health monitor fires on traffic spikes/drops. Two
    aggregations (per-minute counts, then per-type moments) and one join
    back; the moments table is tiny (one row per type) so the join is a
    broadcast — the whole plan shuffles the events table exactly once at
    any scale. Null-std (constant series) yields a null zscore and no
    flag rather than a division blow-up."""
    events = table(spark, sf_dir, "events")
    m = (
        events.groupBy(
            "event_type", F.date_trunc("minute", "ts").alias("minute")
        )
        .agg(F.count("*").alias("cnt"))
    )
    # ROUND-11 (guide §2.4, audit rescan=2): the per-type moments were a
    # second derivation of the minute aggregation joined back on; they
    # are windows over the (type, minute) cell table now — one fact
    # scan. The cell table is calendar-sized per type, so the window
    # partition is never hot.
    tw = Window.partitionBy("event_type")
    mu = F.avg("cnt").over(tw)
    sd = F.stddev_samp("cnt").over(tw)
    z = (F.col("cnt") - mu) / F.when(sd != 0, sd)
    return m.select(
        "event_type",
        "minute",
        "cnt",
        F.round(z, 6).alias("zscore"),
        F.when(F.abs(z) > ANOMALY_Z, 1).otherwise(0).alias("is_anomaly"),
    )


@register(
    "q_forward_fill",
    tags=("timeseries", "gapfill", "window"),
    oracle="""
        WITH bounds AS (
            SELECT date_trunc('minute', MIN(ts)) AS lo,
                   date_trunc('minute', MAX(ts)) AS hi
            FROM events
        ),
        cal AS (
            SELECT et.event_type,
                   unnest(generate_series(lo, hi, INTERVAL 1 MINUTE))
                       AS minute
            FROM bounds,
                 (SELECT DISTINCT event_type FROM events) et
        ),
        vals AS (
            SELECT event_type, date_trunc('minute', ts) AS minute,
                   ROUND(AVG(value), 6) AS val
            FROM events GROUP BY 1, 2
        )
        SELECT cal.event_type, cal.minute,
               LAST_VALUE(vals.val IGNORE NULLS) OVER (
                   PARTITION BY cal.event_type ORDER BY cal.minute
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS val_filled,
               CASE WHEN vals.minute IS NULL THEN 1 ELSE 0 END AS is_gap
        FROM cal
        LEFT JOIN vals ON cal.minute = vals.minute
                      AND cal.event_type = vals.event_type
    """,
)
def q_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD-FILL gap repair: the per-(type, minute) average value on
    the dense minute calendar, with missing minutes carrying the last
    observed value forward (``last_value(..., ignoreNulls)`` over an
    unbounded-preceding frame) — the standard feature-engineering repair
    before a model consumes a time series. The calendar fans out from a
    1-row bounds aggregate (broadcast, minutes-not-rows); the fill window
    partitions by event_type, so state per partition is one running
    value and the shuffle is keyed by type — no global sort. Leading
    gaps (before the first observation) stay null by definition."""
    ev = table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("minute", F.min("ts")).alias("lo"),
        F.date_trunc("minute", F.max("ts")).alias("hi"),
    )
    types = ev.select("event_type").distinct()
    cal = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 MINUTE"))
        ).alias("minute"),
    )
    vals = ev.groupBy(
        "event_type", F.date_trunc("minute", "ts").alias("minute")
    ).agg(F.round(F.avg("value"), 6).alias("val"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("minute")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cal.join(
            vals.withColumnsRenamed({"minute": "vminute", "event_type": "vtype"}),
            (F.col("minute") == F.col("vminute"))
            & (F.col("event_type") == F.col("vtype")),
            "left",
        )
        .select(
            "event_type",
            "minute",
            F.last("val", ignorenulls=True).over(w).alias("val_filled"),
            F.when(F.col("vminute").isNull(), 1).otherwise(0).alias("is_gap"),
        )
    )


FUNNEL_WINDOW_SEC = 1800  # view -> purchase attribution window


@register(
    "q_funnel_conversion",
    tags=("timeseries", "funnel", "join", "scale"),
    oracle=f"""
        WITH v AS (
            SELECT event_id, user_id, ts FROM events
            WHERE event_type = 'view'
        ),
        p AS (
            SELECT user_id, ts AS pts FROM events
            WHERE event_type = 'purchase'
        ),
        flags AS (
            SELECT v.event_id, v.ts,
                   CASE WHEN EXISTS (
                       SELECT 1 FROM p
                       WHERE p.user_id = v.user_id
                         AND p.pts > v.ts
                         AND epoch(p.pts) - epoch(v.ts)
                             <= {FUNNEL_WINDOW_SEC}
                   ) THEN 1 ELSE 0 END AS converted
            FROM v
        )
        SELECT CAST(hour(ts) AS INT) AS hour,
               CAST(COUNT(*) AS BIGINT) AS n_views,
               CAST(SUM(converted) AS BIGINT) AS n_converted,
               ROUND(SUM(converted) * 1.0 / COUNT(*), 6) AS conversion_rate
        FROM flags
        GROUP BY 1
    """,
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUNNEL conversion: for every 'view', did the same user 'purchase'
    within 30 minutes — aggregated to an hour-of-day conversion curve
    (the product-analytics staple). The correlated EXISTS becomes a
    BUCKETIZED range semi-join: both sides key on (user, 30-minute
    bucket), views probe their own and the next bucket, and the time
    predicate filters inside the join — an equi-join shuffle keyed on
    (user, bucket), never a per-row subquery or an unbounded
    time-range nested loop; per-view flags then collapse with a groupBy
    on the view key. Same plan family as q_join_range / the as-of join
    — the engine's one answer to every 'nearby in time' correlation."""
    ev = table(spark, sf_dir, "events")
    bucket = (F.unix_timestamp("ts") / F.lit(FUNNEL_WINDOW_SEC)).cast("long")
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id",
        "user_id",
        F.col("ts").alias("vts"),
        F.explode(F.array(bucket, bucket + 1)).alias("bucket"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("pts"),
        bucket.alias("bucket"),
    )
    hit = (
        views.join(purchases, ["user_id", "bucket"])
        .filter(
            (F.col("pts") > F.col("vts"))
            & (
                F.unix_timestamp("pts") - F.unix_timestamp("vts")
                <= FUNNEL_WINDOW_SEC
            )
        )
        .select("event_id")
        .distinct()
        .withColumn("converted", F.lit(1))
    )
    flags = (
        ev.filter(F.col("event_type") == "view")
        .select("event_id", "ts")
        .join(hit, "event_id", "left")
        .select(
            F.hour("ts").cast("int").alias("hour"),
            F.coalesce(F.col("converted"), F.lit(0)).alias("converted"),
        )
    )
    return flags.groupBy("hour").agg(
        F.count("*").alias("n_views"),
        F.sum("converted").cast("long").alias("n_converted"),
        F.round(F.sum("converted") / F.count("*"), 6).alias(
            "conversion_rate"
        ),
    )


@register(
    "q_cohort_retention",
    tags=("timeseries", "cohort", "agg"),
    oracle="""
        WITH firsts AS (
            SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
            FROM events GROUP BY user_id
        ),
        activity AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        )
        SELECT f.cohort_day,
               CAST(date_diff('day', f.cohort_day, a.day) AS INT)
                   AS day_offset,
               CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
        FROM activity a JOIN firsts f USING (user_id)
        GROUP BY 1, 2
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHORT retention: users bucketed by first-seen day, activity
    counted per (cohort, day-offset) — the retention triangle every
    product dashboard draws. Two aggregations (first-seen per user,
    distinct active days per user) plus one join KEYED ON user_id — the
    firsts table is user-cardinality, so at 100 TB this is a
    co-partitioned shuffle join on the same key both aggregations
    already hashed by; Catalyst reuses the partitioning instead of
    re-shuffling. No window functions, no per-day scans."""
    ev = table(spark, sf_dir, "events")
    activity = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    # ROUND-11 (guide §2.4, audit rescan=2): the first-seen day used to
    # be a SECOND full events aggregation joined back on user_id; the
    # min over a user's DISTINCT days equals the min over all their
    # events, so cohort_day is a window over the activity cells — one
    # fact scan, and the window rides the user-keyed exchange shape the
    # join needed anyway.
    cohort = F.min("day").over(Window.partitionBy("user_id"))
    return (
        activity.select(
            "user_id",
            cohort.alias("cohort_day"),
            F.datediff("day", cohort).cast("int").alias("day_offset"),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@register(
    "q_funnel_multistep",
    tags=("timeseries", "funnel", "join", "scale"),
    oracle=f"""
        WITH v AS (
            SELECT user_id, ts, epoch(ts) AS sec
            FROM events WHERE event_type = 'view'
        ), c AS (
            SELECT user_id, ts, epoch(ts) AS sec
            FROM events WHERE event_type = 'click'
        ), p AS (
            SELECT user_id, ts, epoch(ts) AS sec
            FROM events WHERE event_type = 'purchase'
        ),
        -- dedup surviving (user, click-ts) pairs BEFORE the next hop —
        -- same shape as the engine — and keep the second hop's equality
        -- key on the materialized CTE: the original 3-way join with the
        -- equality phrased against v planned its second hop as a
        -- PIECEWISE_MERGE_JOIN on the time inequality alone (559 s at
        -- the 10x soak); this form is all HASH_JOINs (0.04 s, same rows)
        vc AS (
            SELECT DISTINCT c.user_id, c.ts AS cts, c.sec AS csec
            FROM v JOIN c ON c.user_id = v.user_id
               AND c.ts > v.ts
               AND c.sec - v.sec <= {FUNNEL_WINDOW_SEC}
        )
        SELECT 1 AS step, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM v
        UNION ALL
        SELECT 2, CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM vc
        UNION ALL
        SELECT 3, CAST(COUNT(DISTINCT vc.user_id) AS BIGINT)
        FROM vc JOIN p ON p.user_id = vc.user_id
           AND p.ts > vc.cts
           AND p.sec - vc.csec <= {FUNNEL_WINDOW_SEC}
    """,
)
def q_funnel_multistep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-STEP funnel (view → click → purchase, each hop within the
    30-minute window): distinct users surviving each stage — the
    product-analytics funnel chart.  Extends q_funnel_conversion's
    bucketized range join to a CHAIN: step 2 joins views to clicks on
    (user, 30-min bucket ±1) with the time predicate inside the join,
    step 3 re-buckets the surviving (user, click-ts) pairs and joins
    purchases the same way.  Every hop is an equi-join shuffle keyed on
    (user, bucket) — K-step funnels cost K bucketized joins, never a
    per-row subquery or an unbounded time-range nested loop, and
    intermediate pairs are deduped per (user, step-ts) before the next
    hop so chain multiplicity can't blow up."""
    ev = table(spark, sf_dir, "events")
    W = FUNNEL_WINDOW_SEC
    bucket_of = lambda col: (F.unix_timestamp(col) / F.lit(W)).cast("long")

    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("vts"),
        F.explode(
            F.array(bucket_of(F.col("ts")), bucket_of(F.col("ts")) + 1)
        ).alias("bucket"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("cts"),
        bucket_of(F.col("ts")).alias("bucket"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("pts"),
        bucket_of(F.col("ts")).alias("bucket"),
    )

    vc = (
        views.join(clicks, ["user_id", "bucket"])
        .filter(
            (F.col("cts") > F.col("vts"))
            & (F.unix_timestamp("cts") - F.unix_timestamp("vts") <= W)
        )
        .select("user_id", "cts")
        .distinct()
    )
    vc_b = vc.select(
        "user_id",
        "cts",
        F.explode(
            F.array(bucket_of(F.col("cts")), bucket_of(F.col("cts")) + 1)
        ).alias("bucket"),
    )
    # ROUND-10 OPTIMIZATION (guide §1.2 — don't compute things twice):
    # steps 2 and 3 used to be two independent aggregation branches, so
    # the view⋈click join (the expensive hop) was derived once under
    # each. The purchase hop is now a LEFT join — every surviving
    # (user, click) pair stays in the stream with a chained flag — and
    # ONE aggregate computes both distinct-user counts; the 1-row result
    # unpivots via explode (not a union, which would replay the chain
    # per branch).
    p = purchases.withColumnsRenamed({"user_id": "p_user", "bucket": "p_bucket"})
    chained = vc_b.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("bucket") == F.col("p_bucket"))
        & (F.col("pts") > F.col("cts"))
        & (F.unix_timestamp("pts") - F.unix_timestamp("cts") <= W),
        "left",
    )
    s1 = ev.filter(F.col("event_type") == "view").agg(
        F.lit(1).alias("step"), F.countDistinct("user_id").alias("n_users")
    )
    per_user = chained.groupBy("user_id").agg(
        F.max(F.col("pts").isNotNull().cast("int")).alias("r3")
    )
    s23 = per_user.agg(
        F.count("*").alias("n2"),
        # coalesce: on a funnel where NO user reaches step 2, the global
        # agg still emits one row and SUM over zero rows is NULL, while
        # the oracle's COUNT(DISTINCT ...) (and the old countDistinct
        # branch) returns 0 (round-10 ADVICE item).
        F.coalesce(F.sum("r3"), F.lit(0)).alias("n3"),
    ).select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(2).alias("step"), F.col("n2").alias("n_users")
                ),
                F.struct(
                    F.lit(3).alias("step"), F.col("n3").alias("n_users")
                ),
            )
        ).alias("s")
    ).select("s.step", "s.n_users")
    return s1.unionByName(s23)


@register(
    "q_forecast_seasonal_naive",
    tags=("timeseries", "forecast", "agg"),
    oracle="""
        WITH h AS (
            SELECT event_type,
                   CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
                   COUNT(*) AS cnt
            FROM events GROUP BY 1, 2
        )
        SELECT a.event_type,
               CAST(COUNT(*) AS BIGINT) AS n_hours,
               ROUND(AVG(ABS(a.cnt - b.cnt)), 6) AS mae_seasonal,
               ROUND(AVG(a.cnt * 1.0), 6) AS mean_cnt
        FROM h a JOIN h b
          ON b.event_type = a.event_type
         AND b.hr = a.hr - INTERVAL 24 HOURS
        GROUP BY 1
    """,
)
def q_forecast_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORECAST-BASELINE evaluation: the seasonal-naive predictor (this
    hour's count = the count 24 h earlier) scored by MAE per event type
    — the floor every real capacity-planning model must beat, and the
    standard health check before shipping anything fancier.  The mean
    hourly count sits alongside so the MAE reads as a relative error.

    Plan: one hour-level aggregation of the fact table (partial-combined
    to |types|×|hours| rows), then a SELF-join of that tiny aggregate
    shifted by exactly 24 h — an interval-shifted equi-join, which is
    gap-safe (a missing prior hour drops the row) where a lag(24-rows)
    window would silently misalign across gaps.  The fact table is
    scanned once; everything after is aggregate-sized."""
    ev = table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count("*").alias("cnt"))
    a = h.alias("a")
    b = h.alias("b")
    return (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (
                F.col("b.hr")
                == F.col("a.hr") - F.expr("INTERVAL 24 HOURS")
            ),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.count("*").alias("n_hours"),
            F.round(F.avg(F.abs(F.col("a.cnt") - F.col("b.cnt"))), 6).alias(
                "mae_seasonal"
            ),
            F.round(F.avg(F.col("a.cnt")), 6).alias("mean_cnt"),
        )
    )


@register(
    "q_markov_transitions",
    tags=("timeseries", "window", "stats"),
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   LEAD(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS next_type
            FROM events
        ), pairs AS (
            SELECT event_type AS from_type, next_type AS to_type,
                   COUNT(*) AS cnt
            FROM seq WHERE next_type IS NOT NULL
            GROUP BY 1, 2
        ), totals AS (
            SELECT from_type, SUM(cnt) AS tot FROM pairs GROUP BY 1
        )
        SELECT p.from_type, p.to_type,
               CAST(p.cnt AS BIGINT) AS cnt,
               ROUND(p.cnt * 1.0 / t.tot, 6) AS prob
        FROM pairs p JOIN totals t USING (from_type)
    """,
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST-ORDER MARKOV transition matrix over per-user event
    sequences: P(next type | current type) — the behavioral model under
    next-action prediction, anomaly scoring (improbable transitions),
    and the funnel queries' statistical generalization.

    Plan: ONE window pass (lead over the user-partitioned, time-ordered
    stream — same shuffle the sessionizer pays), then two aggregations
    over the |types|²-sized pair counts; the row-normalizing totals join
    back as a |types|-row broadcast.  Sequence construction never pairs
    events across users by construction, so the shuffle is the
    user-keyed exchange and nothing else."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    pairs = seq.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count("*").alias("cnt"))
    totals = pairs.groupBy("from_type").agg(F.sum("cnt").alias("tot"))
    return (
        pairs.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            "cnt",
            F.round(F.col("cnt") / F.col("tot"), 6).alias("prob"),
        )
    )


@register(
    "q_session_stats",
    tags=("timeseries", "session", "window", "stats"),
    oracle=f"""
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                             - CAST(floor(epoch(lag(ts) OVER (
                                   PARTITION BY user_id
                                   ORDER BY ts, event_id))) AS BIGINT)
                             > 1800
                             OR lag(ts) OVER (
                                   PARTITION BY user_id
                                   ORDER BY ts, event_id) IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        ), numbered AS (
            SELECT user_id, ts,
                   SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING
                   ) AS session_id
            FROM flagged
        ), sessions AS (
            SELECT user_id, session_id,
                   CAST(floor(epoch(MAX(ts))) AS BIGINT)
                       - CAST(floor(epoch(MIN(ts))) AS BIGINT)
                       AS duration_sec,
                   COUNT(*) AS n_events
            FROM numbered GROUP BY 1, 2
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
               ROUND(AVG(duration_sec * 1.0), 6) AS avg_duration_sec,
               ROUND(quantile_cont(duration_sec, 0.5), 6) AS p50_duration,
               ROUND(quantile_cont(duration_sec, 0.95), 6) AS p95_duration,
               ROUND(AVG(n_events * 1.0), 6) AS avg_events
        FROM sessions
    """,
)
def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION-LEVEL statistics (duration percentiles, events/session)
    over the same >30-min-gap sessionization as ``q_sessionize`` — the
    engagement summary a product dashboard reports.

    Plan: the gap flag and the running session counter share ONE
    user-partitioned window sort; sessions then collapse with a
    (user, session) groupBy, and the final summary aggregates
    session-count-sized rows (exact percentiles here;
    ``approx_percentile`` is the mergeable drop-in at 100 TB)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.unix_timestamp(F.col("ts").cast("timestamp"))
    prev_sec = F.unix_timestamp(F.lag("ts").over(w).cast("timestamp"))
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            prev_sec.isNull() | ((sec - prev_sec) > 1800), 1
        ).otherwise(0).alias("new_session"),
    )
    # event_id tie-break keeps session assignment deterministic for
    # duplicate timestamps (and in lockstep with the gap-flag window).
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    numbered = flagged.select(
        "user_id",
        "ts",
        F.sum("new_session").over(w_run).alias("session_id"),
    )
    sessions = numbered.groupBy("user_id", "session_id").agg(
        (
            F.unix_timestamp(F.max("ts").cast("timestamp"))
            - F.unix_timestamp(F.min("ts").cast("timestamp"))
        ).alias("duration_sec"),
        F.count("*").alias("n_events"),
    )
    return sessions.agg(
        F.count("*").alias("n_sessions"),
        F.round(F.avg("duration_sec"), 6).alias("avg_duration_sec"),
        F.round(F.expr("percentile(duration_sec, 0.5)"), 6).alias(
            "p50_duration"
        ),
        F.round(F.expr("percentile(duration_sec, 0.95)"), 6).alias(
            "p95_duration"
        ),
        F.round(F.avg("n_events"), 6).alias("avg_events"),
    )


@register(
    "q_running_distinct_users",
    tags=("timeseries", "window", "distinct", "scale"),
    oracle="""
        WITH firsts AS (
            SELECT user_id,
                   MIN(CAST(date_trunc('minute', ts) AS TIMESTAMP))
                       AS first_minute
            FROM events GROUP BY 1
        ), new_per_minute AS (
            SELECT first_minute AS minute,
                   CAST(COUNT(*) AS BIGINT) AS new_users
            FROM firsts GROUP BY 1
        )
        SELECT minute, new_users,
               CAST(SUM(new_users) OVER (
                   ORDER BY minute ROWS UNBOUNDED PRECEDING
               ) AS BIGINT) AS cum_users
        FROM new_per_minute
    """,
)
def q_running_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUMULATIVE DISTINCT users over time (the 'total unique users so
    far' dashboard line): running COUNT(DISTINCT) is not incrementally
    aggregatable, so the engine uses the FIRST-OCCURRENCE decomposition
    — each user contributes exactly once, at their first-seen minute —
    turning the running distinct into a running SUM of per-minute
    first-seen counts.

    Plan: one user-keyed aggregation (min ts per user — partial
    combines, shuffle carries |users| rows not |events|), a minute-keyed
    rollup of calendar size, then an unpartitioned running-sum window
    over minute-bucket rows ONLY (thousands of rows at any corpus scale
    — never the fact table; the single-partition window is safe because
    its input is calendar-sized).  The same decomposition is how the
    streaming twin would do it with a first-seen dedup state."""
    ev = table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("minute", F.col("ts").cast("timestamp"))).alias(
            "first_minute"
        )
    )
    new_per_minute = firsts.groupBy(
        F.col("first_minute").alias("minute")
    ).agg(F.count("*").alias("new_users"))
    w = (
        Window.orderBy("minute")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return new_per_minute.select(
        "minute",
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    )


@register(
    "q_resample_interpolate",
    headline=True,
    tags=("time", "window", "llm-pipeline"),
    oracle=f"""
        WITH obs AS (
            SELECT event_type, date_trunc('hour', ts) AS hour,
                   {stable_round_sql(
                       "CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE)"
                       " / COUNT(*)")} AS v_obs
            FROM events GROUP BY 1, 2
        ),
        bounds AS (
            SELECT date_trunc('hour', MIN(ts)) AS lo,
                   date_trunc('hour', MAX(ts)) AS hi
            FROM events
        ),
        grid AS (
            SELECT t.event_type, g.hour
            FROM (SELECT DISTINCT event_type FROM events) t,
                 (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
                      AS hour FROM bounds) g
        ),
        joined AS (
            SELECT g.event_type, g.hour, o.v_obs,
                   CASE WHEN o.v_obs IS NOT NULL THEN g.hour END AS h_known
            FROM grid g LEFT JOIN obs o
              ON o.event_type = g.event_type AND o.hour = g.hour
        ),
        ctx AS (
            SELECT event_type, hour, v_obs,
                   LAST_VALUE(v_obs IGNORE NULLS) OVER (
                       PARTITION BY event_type ORDER BY hour
                       ROWS UNBOUNDED PRECEDING) AS pv,
                   LAST_VALUE(h_known IGNORE NULLS) OVER (
                       PARTITION BY event_type ORDER BY hour
                       ROWS UNBOUNDED PRECEDING) AS ph,
                   FIRST_VALUE(v_obs IGNORE NULLS) OVER (
                       PARTITION BY event_type ORDER BY hour
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                       AS nv,
                   FIRST_VALUE(h_known IGNORE NULLS) OVER (
                       PARTITION BY event_type ORDER BY hour
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                       AS nh
            FROM joined
        )
        SELECT event_type, hour,
               {stable_round_sql('''CASE
                   WHEN v_obs IS NOT NULL THEN v_obs
                   WHEN pv IS NULL THEN nv
                   WHEN nv IS NULL THEN pv
                   ELSE pv + (nv - pv)
                        * (epoch(hour) - epoch(ph)) / (epoch(nh) - epoch(ph))
               END''')} AS v_interp,
               (v_obs IS NULL) AS filled
        FROM ctx
    """,
)
def q_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESAMPLE-TO-GRID with LINEAR INTERPOLATION — the time-series
    regularization step (sensor/metrics pipelines, feature windows for
    forecasting): per event type, the hourly mean of ``value`` is laid
    onto the complete hour grid between the corpus' first and last
    hour; missing hours are linearly interpolated between the nearest
    observed neighbors (edges fall back to nearest-value fill), with a
    ``filled`` flag marking synthesized rows (no nullable column in the
    contract surface — NULL round-trips differently through pandas-based
    canonicalizers).

    Determinism: hourly means fold exact decimal(28,10) sums before one
    double division, so partition order can't flip the hash; the
    interpolation is arithmetic over those stabilized doubles and
    integer epoch gaps — identical in both engines. The 6-dp round is
    :func:`stable_round`, not the engines' round(): the round-6 10×
    soak found an hourly mean of exactly 43.4728125 (a half at 6 dp)
    that Spark's BigDecimal path rounded down and DuckDB's scaled
    multiply rounded up — explicit FLOOR(x·1e6 + 0.5)/1e6 is the same
    IEEE ops in both engines, so ties can't split.

    Plan: one fact-table aggregation (partial combines; shuffle carries
    type×hour rows), a broadcast of the single-row bounds onto the tiny
    type list, sequence+explode for the grid (calendar-sized: hours ×
    types, NOT event-count), a grid-sized left join, and two
    type-partitioned windows over grid rows only. At 100 TB the fact
    table is touched exactly once; everything downstream is
    calendar-sized."""
    ev = table(spark, sf_dir, "events")
    obs = (
        ev.groupBy(
            "event_type",
            F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("hour"),
        )
        .agg(
            stable_round(
                F.sum(F.col("value").cast("decimal(28,10)")).cast("double")
                / F.count("*")
            ).alias("v_obs")
        )
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min(F.col("ts").cast("timestamp"))).alias("lo"),
        F.date_trunc("hour", F.max(F.col("ts").cast("timestamp"))).alias("hi"),
    )
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 HOUR"))
        ).alias("hour"),
    )
    joined = grid.join(obs, ["event_type", "hour"], "left").withColumn(
        "h_known", F.when(F.col("v_obs").isNotNull(), F.col("hour"))
    )
    back = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    fwd = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    ctx = joined.select(
        "event_type",
        "hour",
        "v_obs",
        F.last("v_obs", ignorenulls=True).over(back).alias("pv"),
        F.last("h_known", ignorenulls=True).over(back).alias("ph"),
        F.first("v_obs", ignorenulls=True).over(fwd).alias("nv"),
        F.first("h_known", ignorenulls=True).over(fwd).alias("nh"),
    )
    ep = lambda c: F.unix_timestamp(F.col(c))  # noqa: E731
    interp = (
        F.when(F.col("v_obs").isNotNull(), F.col("v_obs"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (ep("hour") - ep("ph"))
            / (ep("nh") - ep("ph"))
        )
    )
    return ctx.select(
        "event_type",
        "hour",
        stable_round(interp).alias("v_interp"),
        F.col("v_obs").isNull().alias("filled"),
    )


SEQ_LETTER = {
    "view": "v",
    "click": "c",
    "purchase": "p",
    "signup": "s",
    "error": "e",
}
SEQ_PATTERN = "vc+p"  # view, then 1+ clicks, then purchase


def _seq_letter_case(col_sql: str) -> str:
    """CASE mapping event types to single letters (both dialects)."""
    whens = " ".join(
        f"WHEN '{t}' THEN '{letter}'" for t, letter in SEQ_LETTER.items()
    )
    return f"CASE {col_sql} {whens} ELSE 'x' END"


@register(
    "q_event_sequence_pattern",
    tags=("time", "window", "sql-surface"),
    oracle=f"""
        WITH seqs AS (
            SELECT user_id,
                   string_agg({_seq_letter_case('event_type')}, ''
                       ORDER BY ts, event_id) AS seq
            FROM events GROUP BY user_id
        )
        SELECT user_id,
               CAST(length(seq) AS BIGINT) AS seq_len,
               CAST(len(regexp_extract_all(seq, '{SEQ_PATTERN}'))
                    AS BIGINT) AS n_matches
        FROM seqs
        WHERE len(regexp_extract_all(seq, '{SEQ_PATTERN}')) > 0
    """,
)
def q_event_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVENT-SEQUENCE PATTERN MATCHING (the MATCH_RECOGNIZE shape): per
    user, the time-ordered event-type sequence is encoded one letter
    per event and scanned for the pattern ``{SEQ_PATTERN}`` (a view,
    one or more clicks, then a purchase); output is every user with at
    least one occurrence plus the non-overlapping match count — the
    declarative form of funnel/journey pattern queries that row-by-row
    consumers hand-code with state machines (the engine's streaming
    funnel is the unbounded twin).

    Determinism: ordering ties break on event_id; both engines' regex
    scanners count non-overlapping matches left-to-right, and the
    pattern uses only portable syntax (literal + class + quantifier).

    Plan: one user-keyed aggregation building the sequence (state per
    user is bounded by that user's event count — the batch trade-off;
    unbounded histories belong to the streaming twin), then a per-row
    regex — no joins, no windows, one shuffle total."""
    ev = table(spark, sf_dir, "events")
    seqs = (
        ev.select(
            "user_id",
            F.struct(
                F.col("ts").cast("timestamp").alias("ts"),
                F.col("event_id").alias("event_id"),
                F.expr(_seq_letter_case("event_type")).alias("letter"),
            ).alias("s"),
        )
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list("s")), lambda s: s["letter"]
                ),
            ).alias("seq")
        )
    )
    return (
        seqs.select(
            "user_id",
            F.length("seq").cast("long").alias("seq_len"),
            F.regexp_count(F.col("seq"), F.lit(SEQ_PATTERN))
            .cast("long")
            .alias("n_matches"),
        )
        .filter(F.col("n_matches") > 0)
    )


TS_SIM_QUERY_USER = 0  # query series: user 0's hourly activity
TS_SIM_TOP = 10


@register(
    "q_ts_similarity_search",
    tags=("timeseries", "similarity", "scale"),
    oracle=f"""
        WITH cells AS (
            SELECT user_id, date_trunc('hour', ts) AS hour,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM events GROUP BY 1, 2
        ),
        grid AS (
            SELECT CAST(COUNT(DISTINCT date_trunc('hour', ts)) AS BIGINT)
                AS n FROM events
        ),
        stats AS (
            SELECT user_id, SUM(cnt) AS sx, SUM(cnt * cnt) AS sx2
            FROM cells GROUP BY 1
        ),
        q AS (
            SELECT hour, cnt FROM cells
            WHERE user_id = {TS_SIM_QUERY_USER}
        ),
        qstats AS (
            SELECT SUM(cnt) AS qsx, SUM(cnt * cnt) AS qsx2 FROM q
        ),
        xy AS (
            SELECT c.user_id, SUM(c.cnt * q.cnt) AS sxy
            FROM cells c JOIN q ON c.hour = q.hour
            GROUP BY 1
        ),
        scored AS (
            SELECT s.user_id,
                   ROUND(
                       (g.n * COALESCE(xy.sxy, 0) - s.sx * qs.qsx)
                       / SQRT(CAST(g.n * s.sx2 - s.sx * s.sx AS DOUBLE)
                              * CAST(g.n * qs.qsx2 - qs.qsx * qs.qsx
                                     AS DOUBLE)),
                       6) AS corr
            FROM stats s
            LEFT JOIN xy ON xy.user_id = s.user_id
            CROSS JOIN grid g CROSS JOIN qstats qs
            WHERE s.user_id <> {TS_SIM_QUERY_USER}
              AND (g.n * s.sx2 - s.sx * s.sx) > 0
              AND (g.n * qs.qsx2 - qs.qsx * qs.qsx) > 0
        )
        SELECT user_id, corr FROM scored
        ORDER BY corr DESC, user_id LIMIT {TS_SIM_TOP}
    """,
)
def q_ts_similarity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-SERIES SIMILARITY SEARCH (EDBT'19 streaming-similarity
    family, batch form): which users' hourly activity series correlate
    most with the query user's — Pearson correlation over the aligned
    hour grid with absent hours as implicit zeros, top-{TS_SIM_TOP}.

    The moment decomposition is what makes this scale: correlation
    needs only (Σx, Σx², Σxy, n), so each user's series never
    materializes as a dense vector — one (user, hour) aggregation, a
    user-sized stats rollup, and Σxy from an equi-join against the
    BROADCAST query series (only overlapping nonzero hours contribute,
    so sparse series cost their support, not the grid). All moments are
    exact integer sums — zero float drift — and only the final corr
    formula divides in double, identically on both engines.
    Constant-variance series are excluded (corr undefined; NaN/inf
    hash engine-dependently). Top-k plans as TakeOrderedAndProject."""
    ev = table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count("*").alias("cnt"))
    grid = ev.select(
        F.count_distinct(F.date_trunc("hour", F.col("ts"))).alias("n")
    )
    q = cells.filter(F.col("user_id") == TS_SIM_QUERY_USER).select(
        "hour", F.col("cnt").alias("qcnt")
    )
    qstats = q.agg(
        F.sum("qcnt").alias("qsx"),
        F.sum(F.col("qcnt") * F.col("qcnt")).alias("qsx2"),
    )
    # ROUND-10 OPTIMIZATION (guide §1.2): sx/sx² and Σxy used to be TWO
    # independent rollups, each replaying the full (user, hour)
    # aggregation of the fact table. One broadcast LEFT join against
    # the query series attaches qcnt (0 where the query user was
    # inactive — integer-exact, so Σ cnt·coalesce(qcnt, 0) equals the
    # old inner-join Σxy with its COALESCE at readout), and a single
    # per-user rollup produces all three moments. The query-user
    # branches (q, qstats) replay only a user_id=0-PUSHED scan — cheap
    # at any scale. Full fact aggregations: 2 → 1.
    stats = (
        cells.join(F.broadcast(q), "hour", "left")
        .groupBy("user_id")
        .agg(
            F.sum("cnt").alias("sx"),
            F.sum(F.col("cnt") * F.col("cnt")).alias("sx2"),
            F.sum(
                F.col("cnt") * F.coalesce(F.col("qcnt"), F.lit(0))
            ).alias("sxy"),
        )
    )
    n = F.col("n")
    var_x = n * F.col("sx2") - F.col("sx") * F.col("sx")
    var_q = n * F.col("qsx2") - F.col("qsx") * F.col("qsx")
    # cast EACH variance factor to double before multiplying: each is
    # ~n·Σx² (BIGINT), so their BIGINT product overflows long before
    # the moments themselves do; precision loss is irrelevant under the
    # final sqrt + round(6), and the oracle mirrors the per-factor cast
    corr = (
        n * F.coalesce(F.col("sxy"), F.lit(0)) - F.col("sx") * F.col("qsx")
    ) / F.sqrt(var_x.cast("double") * var_q.cast("double"))
    return (
        stats.crossJoin(F.broadcast(grid))
        .crossJoin(F.broadcast(qstats))
        .filter(
            (F.col("user_id") != TS_SIM_QUERY_USER)
            & (var_x > 0)
            & (var_q > 0)
        )
        .select("user_id", F.round(corr, 6).alias("corr"))
        .orderBy(F.desc("corr"), F.asc("user_id"))
        .limit(TS_SIM_TOP)
    )


SLIDING_DISTINCT_HOURS = 24


@register(
    "q_sliding_distinct_24h",
    tags=("timeseries", "window", "distinct", "scale"),
    oracle=f"""
        WITH cells AS (
            SELECT DISTINCT user_id, date_trunc('hour', ts) AS hour
            FROM events
        ),
        hours AS (SELECT DISTINCT hour FROM cells),
        grid AS (
            SELECT h.hour, h.hour - to_hours(u.off) AS src_hour
            FROM hours h,
                 UNNEST(range(0, {SLIDING_DISTINCT_HOURS})) AS u(off)
        )
        SELECT g.hour,
               CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS dau_24h
        FROM grid g JOIN cells c ON c.hour = g.src_hour
        GROUP BY 1
    """,
)
def q_sliding_distinct_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING-WINDOW DISTINCT (trailing-24h active users per hour) —
    the DAU-style metric a naive per-point COUNT(DISTINCT) recomputes
    from raw events 24 times over. The standard exact decomposition:
    dedupe once to (user, hour) cells, fan each cell out to the
    {SLIDING_DISTINCT_HOURS} window endpoints it serves via a
    grid equi-join, then one distinct-count per endpoint.

    Plan: the only event-sized shuffle is the initial cell distinct;
    the grid is |hours| × {SLIDING_DISTINCT_HOURS} rows (calendar-sized,
    broadcast), the fan-out is bounded by cells × window-width — never
    events × width — and the final rollup keys on the endpoint hour.
    At 100 TB the bounded-keyspace alternative trades exactness for
    state (an HLL sketch per window); this is the exact batch form. All arithmetic is on integers and
    timestamps."""
    ev = table(spark, sf_dir, "events")
    cells = ev.select(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("src_hour")
    ).distinct()
    grid = (
        cells.select(F.col("src_hour").alias("hour"))
        .distinct()
        .select(
            "hour",
            F.explode(
                F.sequence(F.lit(0), F.lit(SLIDING_DISTINCT_HOURS - 1))
            ).alias("off"),
        )
        .select(
            "hour",
            (
                F.col("hour") - F.col("off") * F.expr("INTERVAL 1 HOUR")
            ).alias("src_hour"),
        )
    )
    return (
        cells.join(F.broadcast(grid), "src_hour")
        .groupBy("hour")
        .agg(F.count_distinct("user_id").cast("bigint").alias("dau_24h"))
    )


TOP_PATHS_STEPS = 3  # journey prefix length
TOP_PATHS_K = 10


@register(
    "q_top_paths",
    tags=("timeseries", "journey", "window", "topk"),
    oracle=f"""
        WITH firstk AS (
            SELECT user_id, event_type, rn FROM (
                SELECT user_id, event_type,
                       ROW_NUMBER() OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS rn
                FROM events
            ) WHERE rn <= {TOP_PATHS_STEPS}
        ),
        paths AS (
            SELECT user_id,
                   string_agg(event_type, ' > ' ORDER BY rn) AS path,
                   CAST(COUNT(*) AS BIGINT) AS n_steps
            FROM firstk GROUP BY user_id
        ),
        counts AS (
            SELECT path, n_steps,
                   CAST(COUNT(*) AS BIGINT) AS n_users
            FROM paths WHERE n_steps = {TOP_PATHS_STEPS}
            GROUP BY 1, 2
        )
        SELECT path, n_users FROM counts
        ORDER BY n_users DESC, path LIMIT {TOP_PATHS_K}
    """,
)
def q_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP ENTRY PATHS: the {TOP_PATHS_K} most common first-
    {TOP_PATHS_STEPS}-event journeys ("view > click > purchase") — the
    onboarding-flow readout behind every Sankey diagram, here as one
    query instead of a path-analysis export. Complements
    ``q_markov_transitions`` (edge probabilities) with actual ordered
    prefixes and ``q_event_sequence_pattern`` (regex matching) with
    frequency ranking.

    Plan: a per-user rank keeps only the first {TOP_PATHS_STEPS} events
    (ONE user-keyed shuffle; everything after is ≤{TOP_PATHS_STEPS}
    rows/user), the path string assembles from an ORDERED
    array_join(collect) — deterministic because the (ts, event_id)
    tie-break makes the rank total — and the final count + top-k plans
    as TakeOrderedAndProject over |distinct paths| rows (bounded by
    |types|^{TOP_PATHS_STEPS}, a constant — never a data-sized sort).
    Users with fewer than {TOP_PATHS_STEPS} events are excluded
    (partial prefixes would mix path lengths) in both engines."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    firstk = (
        ev.select(
            "user_id",
            "event_type",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= TOP_PATHS_STEPS)
    )
    paths = firstk.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("rn", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            " > ",
        ).alias("path"),
        F.count("*").alias("n_steps"),
    )
    return (
        paths.filter(F.col("n_steps") == TOP_PATHS_STEPS)
        .groupBy("path")
        .agg(F.count("*").alias("n_users"))
        .orderBy(F.desc("n_users"), F.asc("path"))
        .limit(TOP_PATHS_K)
    )


STL_HALF_WINDOW = 12  # centered 25-hour trend window


@register(
    "q_seasonal_decompose",
    tags=("timeseries", "window", "decomposition", "scale"),
    oracle=f"""
        WITH bounds AS (
            SELECT MIN(date_trunc('hour', ts)) AS h0,
                   MAX(date_trunc('hour', ts)) AS h1
            FROM events
        ),
        grid AS (
            SELECT UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR))
                AS hour
            FROM bounds
        ),
        counts AS (
            SELECT date_trunc('hour', ts) AS hour,
                   CAST(COUNT(*) AS BIGINT) AS y
            FROM events GROUP BY 1
        ),
        dense AS (
            SELECT g.hour, COALESCE(c.y, 0) AS y
            FROM grid g LEFT JOIN counts c ON c.hour = g.hour
        ),
        trended AS (
            SELECT hour, y,
                   SUM(y) OVER w AS trend25,
                   COUNT(*) OVER w AS n_w
            FROM dense
            WINDOW w AS (ORDER BY hour
                         ROWS BETWEEN {STL_HALF_WINDOW} PRECEDING
                                  AND {STL_HALF_WINDOW} FOLLOWING)
        ),
        full_rows AS (
            SELECT hour, y, trend25,
                   25 * y - trend25 AS detr25,
                   CAST(date_part('hour', hour) AS INTEGER) AS hod
            FROM trended WHERE n_w = {2 * STL_HALF_WINDOW + 1}
        ),
        season AS (
            SELECT hod, SUM(detr25) AS num,
                   CAST(COUNT(*) AS BIGINT) AS k
            FROM full_rows GROUP BY 1
        )
        SELECT f.hour, f.y,
               ROUND(f.trend25 / 25.0, 6) AS trend,
               ROUND(s.num / (25.0 * s.k), 6) AS seasonal,
               ROUND((f.detr25 * s.k - s.num) / (25.0 * s.k), 6)
                   AS residual
        FROM full_rows f JOIN season s USING (hod)
    """,
)
def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONAL DECOMPOSITION (STL-lite): hourly volume splits into
    TREND (centered 25-hour moving average), SEASONAL (hour-of-day mean
    of the detrended series), and RESIDUAL — the decomposition behind
    every "is this spike real or just 9am" anomaly triage, additive by
    construction: y = trend + seasonal + residual exactly.

    Cross-engine exactness is the design: all three components are
    INTEGER arithmetic until one final division — the trend is carried
    as the raw 25-hour window SUM (trend25), the detrended series as
    25·y − trend25 (exact BIGINT), the seasonal as the (Σ detr25, k)
    rational pair — so Spark and DuckDB hold bit-identical integers and
    each output is a single rounded double division. A naive
    double-moving-average would drift engine-by-engine in summation
    order. Edge hours with a partial trend window are excluded
    (stated contract: n_w = 25 only), which also keeps every row's
    scale factor constant. Plan: the dense calendar grid and both
    windows are calendar-sized; the fact table contributes one hourly
    aggregation."""
    ev = table(spark, sf_dir, "events")
    counts = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count("*").alias("y"))
    bounds = ev.agg(
        F.min(F.date_trunc("hour", F.col("ts"))).alias("h0"),
        F.max(F.date_trunc("hour", F.col("ts"))).alias("h1"),
    )
    grid = bounds.select(
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour")
    )
    dense = grid.join(counts, "hour", "left").select(
        "hour", F.coalesce("y", F.lit(0)).alias("y")
    )
    w = Window.orderBy("hour").rowsBetween(
        -STL_HALF_WINDOW, STL_HALF_WINDOW
    )
    trended = dense.select(
        "hour",
        "y",
        F.sum("y").over(w).alias("trend25"),
        F.count("*").over(w).alias("n_w"),
    )
    full_rows = trended.filter(
        F.col("n_w") == 2 * STL_HALF_WINDOW + 1
    ).select(
        "hour",
        "y",
        "trend25",
        (F.lit(25) * F.col("y") - F.col("trend25")).alias("detr25"),
        F.hour("hour").cast("int").alias("hod"),
    )
    season = full_rows.groupBy("hod").agg(
        F.sum("detr25").alias("num"), F.count("*").alias("k")
    )
    den = F.lit(25.0) * F.col("k")
    return full_rows.join(F.broadcast(season), "hod").select(
        "hour",
        "y",
        F.round(F.col("trend25") / 25.0, 6).alias("trend"),
        F.round(F.col("num") / den, 6).alias("seasonal"),
        F.round(
            (F.col("detr25") * F.col("k") - F.col("num")) / den, 6
        ).alias("residual"),
    )


@register(
    "q_interarrival_stats",
    tags=("timeseries", "window", "stats"),
    oracle="""
        WITH gaps AS (
            SELECT event_type,
                   CAST(floor(epoch(ts)) AS BIGINT)
                     - CAST(floor(epoch(LAG(ts) OVER (
                           PARTITION BY event_type ORDER BY ts, event_id
                       ))) AS BIGINT) AS gap_sec
            FROM events
        ),
        g AS (SELECT event_type, gap_sec FROM gaps
              WHERE gap_sec IS NOT NULL)
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_gaps,
               ROUND(quantile_cont(gap_sec, 0.5), 4) AS p50_sec,
               ROUND(quantile_cont(gap_sec, 0.95), 4) AS p95_sec,
               CAST(MAX(gap_sec) AS BIGINT) AS max_gap_sec,
               ROUND(CAST(SUM(gap_sec) AS DOUBLE) / COUNT(*), 4)
                   AS mean_sec,
               ROUND(
                   SQRT(GREATEST(
                       CAST(COUNT(*) AS DOUBLE)
                           * CAST(SUM(CAST(gap_sec AS DECIMAL(18,0))
                                      * CAST(gap_sec AS DECIMAL(18,0)))
                                  AS DOUBLE)
                       - CAST(SUM(gap_sec) AS DOUBLE)
                           * CAST(SUM(gap_sec) AS DOUBLE), 0.0))
                   / CAST(SUM(gap_sec) AS DOUBLE), 6) AS burstiness_cv
        FROM g
        GROUP BY 1
    """,
)
def q_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTER-ARRIVAL TIME ANALYSIS per event type: gap percentiles,
    worst silence, mean rate, and the burstiness coefficient of
    variation (CV = σ/μ of gaps; ≈1 is Poisson, ≫1 is bursty) — the
    diagnostic that separates "traffic is smooth, size for the mean"
    from "traffic is bursty, size for the spike", and the SLO input
    behind max_gap alerting.

    Plan: one type-partitioned lag window ((ts, event_id) tie-break)
    produces the gaps; the rollup computes exact interpolated
    percentiles plus moment-decomposed CV — gap moments accumulate
    through the decimal lane (Σgap² overflows BIGINT at real volumes),
    every factor casts to double individually, and GREATEST(...,0)
    clamps the variance's last-ulp negativity for near-constant gap
    series (sqrt(-ε) is NaN and hashes engine-dependently). At 100 TB:
    one data-sized shuffle on event_type (salt if a type dominates —
    the ``q_join_salted`` pattern), |types|-row output."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    sec = F.unix_timestamp(F.col("ts").cast("timestamp"))
    prev = F.lag(F.col("ts")).over(w)
    gaps = ev.select(
        "event_type",
        (
            sec - F.unix_timestamp(prev.cast("timestamp"))
        ).alias("gap_sec"),
    ).filter(F.col("gap_sec").isNotNull())
    dec = "decimal(18,0)"
    n_d = F.count("*").cast("double")
    s_d = F.sum("gap_sec").cast("double")
    ss_d = F.sum(F.col("gap_sec").cast(dec) * F.col("gap_sec").cast(dec)).cast(
        "double"
    )
    cv = F.sqrt(F.greatest(n_d * ss_d - s_d * s_d, F.lit(0.0))) / s_d
    return gaps.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"),
        F.round(F.expr("percentile(gap_sec, 0.5)"), 4).alias("p50_sec"),
        F.round(F.expr("percentile(gap_sec, 0.95)"), 4).alias("p95_sec"),
        F.max("gap_sec").cast("bigint").alias("max_gap_sec"),
        F.round(s_d / F.count("*"), 4).alias("mean_sec"),
        F.round(cv, 6).alias("burstiness_cv"),
    )
