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

Every function below is a pure logical transformation on an (unbounded)
DataFrame — the same code binds to a Kafka source in production, a file
source in tests, or a batch frame for equivalence checks; Catalyst's
incremental planner does the rest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caches import publish_view
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


def dedup_stream(
    events: DataFrame,
    keys: list[str] | None = None,
    ts_col: str = "ts",
    watermark: str = "1 minute",
) -> DataFrame:
    """Streaming exact dedup: drop re-deliveries of the same event within
    the watermark horizon — the streaming twin of the batch dedup tier
    (operators/dedup.py) and the engine's answer to at-least-once sources
    (the reference's gateway can re-send on retry; its consumers would
    double-count). ``dropDuplicatesWithinWatermark`` keys the state store
    on the dedup keys and evicts each key once the watermark passes it,
    so state is bounded by (arrival rate × watermark), not the stream's
    lifetime."""
    keys = keys or ["event_id"]
    events = _event_time(events, ts_col)
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
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


def windowed_distinct_users(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    window_dur: str = "1 minute",
    watermark: str = DEFAULT_WATERMARK,
    rsd: float = 0.01,
) -> DataFrame:
    """Streaming DISTINCT-user estimates per tumbling window — the
    streaming twin of the batch ``q_approx_unique_users``: exact
    count-distinct on an unbounded stream needs an unbounded per-window
    value set, so the state carried per window is an HLL++ sketch
    (``approx_count_distinct``) — fixed-size, mergeable across
    micro-batches, and register-max merging is ORDER-INSENSITIVE, so the
    streamed result is bit-equal to running the same aggregate in batch
    (pinned by tests/test_streaming.py).  Watermark bounds which windows
    stay open; closed windows free their sketch."""
    events = _event_time(events, ts_col)
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_dur))
        .agg(
            F.approx_count_distinct(user_col, rsd).alias("approx_users"),
            F.count("*").alias("cnt"),
        )
    )


def _start_foreach_batch(
    stream: DataFrame, body, checkpoint_dir: str | None = None
):
    """Start ``stream`` in append mode with ``body(batch, batch_id)`` as
    its ``foreachBatch`` function — checkpointed under
    ``checkpoint_dir`` when one is given — and return the started
    query. Every foreachBatch stream in this module starts here."""
    w = stream.writeStream.outputMode("append").foreachBatch(body)
    if checkpoint_dir is not None:
        w = w.option("checkpointLocation", checkpoint_dir)
    return w.start()


def bloom_probe_stream(
    docs_stream: DataFrame,
    seen_bits: DataFrame,
    sink_dir: str,
    checkpoint_dir: str | None = None,
):
    """STREAM-STATIC Bloom membership — incremental-crawl dedup as a
    stream job: incoming documents are shingled and probed against the
    STATIC reference-corpus bit set (built once by the batch side,
    ``operators/corpus.bloom_bits``), emitting per-document
    (n_shingles, n_seen, seen_ratio).

    Runs via ``foreachBatch``: per micro-batch the probe is the exact
    batch plan (explode → broadcast bit-set join → per-doc rollup), so
    stream == batch by construction (pinned in tests), there is no
    cross-batch streaming state at all — the membership decision is
    per-document — and the bit set stays a broadcast bounded by m rows
    no matter how much reference corpus it summarizes.

    Sink: same contract as :func:`semantic_dedup_stream` — each batch's
    per-document rows append DELTA-ONLY to ``sink_dir`` via
    :func:`_append_delta_sink` (per-batch cost O(|batch|), flat over
    stream life, replay-idempotent; redelivery removed at read by
    :func:`stream_sink_results` on ``doc_id``). Returns the started
    query."""
    from ..operators.corpus import bloom_probe, shingle_rows

    def _probe(batch: DataFrame, batch_id: int) -> None:
        out = bloom_probe(shingle_rows(batch), seen_bits)
        _append_delta_sink(out, sink_dir, batch_id)

    return _start_foreach_batch(docs_stream, _probe, checkpoint_dir)


def _append_delta_sink(out: DataFrame, sink_dir: str, batch_id: int) -> None:
    """DELTA-ONLY append sink (round-10 item 1): write ONLY this
    batch's result rows, into the batch's OWN hive-style partition
    directory (``batch=<id>``) with per-partition overwrite — so a
    replayed batch id (foreachBatch's at-least-once restart semantics
    under a checkpointed query) rewrites its own partition instead of
    duplicating it. Per-batch cost is O(|batch result|): no read, no
    union, no re-checkpoint of history, which is the property a
    continuous serving stream needs. Source-level redelivery (the same
    vector arriving again in a LATER batch) produces an identical row
    under a different batch id; the idempotency key travels with the
    row, and :func:`stream_sink_results` removes such replays at read
    time — the reader pays that dedup, never the hot append path."""
    out.write.mode("overwrite").parquet(
        f"{sink_dir.rstrip('/')}/batch={batch_id}"
    )


def stream_sink_results(
    spark, sink_dir: str, keys: tuple[str, ...]
) -> DataFrame:
    """Read a delta-append stream sink as the deduplicated result table:
    one row per ``keys`` tuple. Rows for a redelivered input are
    IDENTICAL by construction (frozen index, deterministic rank), so
    dropping duplicates on the idempotency key is exact, not a choice
    among variants. This is the consumer-side half of the sink's
    idempotency contract; cost is one column-pruned scan + one
    aggregate over the sink — paid per READ, not per ingest batch."""
    return (
        spark.read.parquet(sink_dir)
        .drop("batch")
        .dropDuplicates(list(keys))
    )


def _frozen_router_batch_fn(spark, sf_dir: str, sink_dir: str, rows):
    """The foreachBatch body shared by the frozen-router streams: skip
    an empty batch, route its (vec_id, embedding) rows through the
    FROZEN base-trained two-level router (``operators/similarity
    ._append_index`` — all broadcast state, no retraining), turn the
    routed (vec_id, v, cent_id, shard) frame into result rows with
    ``rows(routed)`` and append them to the delta sink."""
    from ..functions.vectors import as_double
    from ..operators.similarity import _append_index, _route_assign

    ix = _append_index(spark, sf_dir)

    def _body(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        bv = batch.select(
            "vec_id", as_double(F.col("embedding")).alias("v")
        )
        routed = _route_assign(bv, ix.coarse_arr, ix.groups, ix.pcm, ix.wmax)
        _append_delta_sink(rows(routed), sink_dir, batch_id)

    return _body


def semantic_dedup_batch_fn(spark, sf_dir: str, sink_dir: str):
    """The foreachBatch body of :func:`semantic_dedup_stream`, exposed
    so soak harnesses can wrap it with timing: routes a micro-batch
    through the frozen router and appends its near-dup rows to
    ``sink_dir``."""
    from ..operators.similarity import (
        _append_base_assignment,
        ingest_dedup_rows,
    )

    base_a = _append_base_assignment(spark, sf_dir)
    return _frozen_router_batch_fn(
        spark,
        sf_dir,
        sink_dir,
        lambda routed: ingest_dedup_rows(base_a, routed),
    )


def semantic_dedup_stream(
    vec_stream: DataFrame,
    sf_dir: str,
    sink_dir: str,
    checkpoint_dir: str | None = None,
):
    """STREAMING SEMANTIC DEDUP-AT-INGEST — the streaming twin of the
    batch ``q_dedup_ingest_incremental`` (round-9 item: the reference's
    whole posture is streaming; the daily batch-vs-corpus dedup should
    run continuously, not nightly). Incoming (vec_id, embedding) rows
    are routed per micro-batch through the FROZEN base-trained
    two-level router (coarse fold → fine fold → hash-plane shard — all
    broadcast state, no retraining, no shuffle), compared ONLY against
    standing-corpus members of their own (cent_id, shard) bucket, and
    every near-dup (cosine ≥ threshold) is emitted as
    (doc_id, cent_id, matched_doc_id, max_sim) — the continuously-
    maintained reject/merge list.

    Sink (round-10 item 1): each batch's rows are appended DELTA-ONLY
    to a parquet directory partitioned by batch id
    (:func:`_append_delta_sink`): per-batch cost is O(|batch|), flat
    over the stream's life (pinned by scripts/stream_sink_soak.py),
    batch replay is idempotent via per-partition overwrite, and
    source-level redelivery is removed at read time by
    :func:`stream_sink_results` on ``doc_id`` (the key travels with
    the row).

    stream == batch by construction: each micro-batch runs EXACTLY the
    batch operator's pair stage (``operators/similarity
    .ingest_dedup_rows``) against the same session-persisted base
    assignment, and a vector's verdict depends only on its own content
    + the frozen index — no cross-batch state, so a re-delivered
    vector reproduces its identical row.

    Cost shape at 100 TB: per batch, |batch| routing folds + per-bucket
    (batch × base-occupancy) comparisons — linear in the batch,
    corpus-size-independent at constant occupancy; the broadcasted
    router is K+√K rows and the base side is read from its persisted
    posting-list form, never recomputed. Returns the started query."""
    return _start_foreach_batch(
        vec_stream,
        semantic_dedup_batch_fn(vec_stream.sparkSession, sf_dir, sink_dir),
        checkpoint_dir,
    )


def ann_serve_stream(
    vec_stream: DataFrame,
    sf_dir: str,
    sink_dir: str,
    checkpoint_dir: str | None = None,
):
    """STREAMING ANN SERVING — the streaming twin of the batch
    ``q_ann_serve_incremental`` (search-at-ingest): arriving
    (vec_id, embedding) rows are routed per micro-batch through the
    FROZEN base-trained two-level router (all broadcast state, no
    retraining) and answered with their top-{ANN_BATCH_K}
    standing-corpus neighbors from their own (cent_id, shard) posting
    list, emitted as (q_id, rnk, vec_id, sim) — the continuously-served
    answer table. k is fixed at the batch operator's ANN_BATCH_K so
    stream == batch holds by construction (the former ``k`` override
    silently broke that parity; round-9 ADVICE — dropped).

    Sink (round-10 item 1): same contract as
    :func:`semantic_dedup_stream` — delta-only append to ``sink_dir``
    (per-batch cost O(|batch|·k), flat over stream life, batch-replay
    idempotent by per-partition overwrite, source redelivery removed at
    read by :func:`stream_sink_results` on (q_id, rnk)).

    stream == batch by construction: each micro-batch runs EXACTLY the
    batch operator's rank stage (``operators/similarity
    .ann_serve_rows``) against the same session-persisted base
    assignment — a query's answer depends only on its own content + the
    frozen index, no cross-batch state, so a replayed vector
    reproduces its identical rows.

    Cost shape at 100 TB: per batch, |batch| routing folds + per-bucket
    (batch × occupancy) scoring — linear in the arrival batch,
    corpus-size-independent at constant occupancy; the broadcast router
    is K+√K rows and the base side reads from its persisted
    posting-list form. Returns the started query."""
    from ..operators.similarity import _append_base_assignment, ann_serve_rows

    spark = vec_stream.sparkSession
    base_a = _append_base_assignment(spark, sf_dir)
    return _start_foreach_batch(
        vec_stream,
        _frozen_router_batch_fn(
            spark,
            sf_dir,
            sink_dir,
            lambda routed: ann_serve_rows(base_a, routed),
        ),
        checkpoint_dir,
    )


def ivf_index_append_stream(
    vec_stream: DataFrame,
    sf_dir: str,
    sink_dir: str,
    checkpoint_dir: str | None = None,
):
    """STREAMING INDEX APPEND — the GROW leg that closes the
    append-path lifecycle (round-10 item 5): arriving vectors are
    routed per micro-batch through the FROZEN base-trained two-level
    router (all broadcast state — K+√K router rows plus the ≤K-row
    per-cell width map; no retraining, no re-split) and their
    (vec_id, cent_id, shard, sim) posting-list assignments are appended
    DELTA-ONLY to ``sink_dir`` — so route (this), audit (drift), filter
    (dedup-at-ingest), and answer (serve) ALL run continuously, the
    reference's everything-streaming posture applied to the index
    lifecycle itself. ``sim`` is the cosine to the chosen centroid,
    stored RAW: the drift audit aggregates it decimal-exact.

    stream == batch by construction: each batch applies EXACTLY
    ``q_ivf_index_append``'s rule (frozen centroids, frozen per-cell
    split widths — a vector's assignment depends only on its own
    content + the frozen index), pinned by parity tests. Idempotency
    is the delta-sink contract: batch replay overwrites its own
    partition, source redelivery reproduces identical rows removed at
    read by :func:`stream_sink_results` on ``vec_id``. The grown index
    is the base posting lists UNION the sink read — and the drift audit
    runs off it unchanged (``operators/similarity.drift_audit_rows``),
    so the "when to rebuild" alarm works on a continuously-grown index
    too.

    Cost shape at 100 TB: per batch, |batch| routing folds against
    broadcast state and an O(|batch|) append — linear in the arrival
    batch, independent of both corpus size and stream lifetime
    (nothing re-reads history on the hot path). Returns the started
    query."""
    from ..functions.vectors import cosine
    from ..operators.similarity import _append_index

    spark = vec_stream.sparkSession
    cents = _append_index(spark, sf_dir).cents

    def _rows(routed: DataFrame) -> DataFrame:
        return routed.join(F.broadcast(cents), "cent_id").select(
            "vec_id",
            "cent_id",
            "shard",
            cosine(F.col("v"), F.col("cv")).alias("sim"),
        )

    return _start_foreach_batch(
        vec_stream,
        _frozen_router_batch_fn(spark, sf_dir, sink_dir, _rows),
        checkpoint_dir,
    )


def new_users_per_minute(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    watermark: str = "365 days",
) -> DataFrame:
    """Streaming twin of ``q_running_distinct_users``'s first stage: the
    per-minute count of FIRST-SEEN users. ``dropDuplicates`` on the user
    key keeps one state row per user forever (the cumulative-distinct
    question is inherently unbounded — at 100 TB keyspaces the HLL
    variant ``windowed_distinct_users`` is the bounded-state trade), so
    each user survives exactly once, at first arrival; a windowed count
    then yields new-users-per-minute, and the consumer accumulates the
    running total (a monotone sum over append-mode rows — the
    foreachBatch sink adds each closed window once).

    CAVEAT vs batch: streaming first-seen is ARRIVAL-order first; the
    batch form is EVENT-TIME min. They agree whenever each user's events
    arrive in event-time order (true for the replay fixtures, pinned in
    tests); under disorder the streaming answer attributes the user to
    the minute of the first-arriving event — documented divergence, same
    class as SURVEY §2 ST4."""
    events = _event_time(events, ts_col)
    firsts = events.dropDuplicates([user_col])
    return (
        firsts.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), "1 minute"))
        .agg(F.count("*").alias("new_users"))
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
    integrity need cross-batch state and stay batch-side / in the
    ``dedup_stream`` and enrichment paths).

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


def _merge_view(spark, view: str, delta: DataFrame, batch_id: int, merge):
    """The incremental-MV step of the view-publishing streams: fold this
    batch's partials ``delta`` into the partials held in global temp
    view ``view`` (``merge`` re-aggregates their union), republish the
    result under ``view`` and return it.

    Batch 0 == a (re)started query: any ``view`` left by a previous run
    under the same name is dropped first — merging stale partials into
    a fresh run would silently double-count every cell."""
    if batch_id == 0:
        spark.catalog.dropGlobalTempView(view)
    if any(t.name == view for t in spark.catalog.listTables("global_temp")):
        delta = merge(spark.table(f"global_temp.{view}").unionByName(delta))
    return publish_view(delta, view)


def ts_similarity_stream(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    query_user: int = 0,
    name: str = "ts_similarity",
):
    """STREAMING twin of ``q_ts_similarity_search``: maintain the
    per-(user, hour) activity cells incrementally across micro-batches
    (the incremental-MV merge — counts are re-aggregable partials) and
    re-score Pearson correlation against the query user's series from
    the MERGED cells each batch, publishing to the global temp view
    ``name``.

    Why foreachBatch and not chained streaming aggs: correlation needs
    Σ(cnt_h²), a second-level aggregate over CLOSED hourly counts —
    maintaining it as two chained stateful operators couples the score
    to watermark closure, whereas merging count partials keeps every
    moment exact at all times and bit-equal to the batch operator on
    the same prefix (pinned in tests). State = the cells table, bounded
    by |users| × |grid hours| — the same cardinality the batch plan
    shuffles, NOT the raw stream."""
    spark = events.sparkSession
    events = _event_time(events, ts_col)

    def _step(batch: DataFrame, batch_id: int) -> None:
        delta = batch.groupBy(
            F.col(user_col).alias("user_id"),
            F.date_trunc("hour", F.col(ts_col)).alias("hour"),
        ).agg(F.count("*").alias("cnt"))
        cells = _merge_view(
            spark,
            f"{name}_cells",
            delta,
            batch_id,
            lambda both: both.groupBy("user_id", "hour").agg(
                F.sum("cnt").alias("cnt")
            ),
        )
        grid = cells.select(F.count_distinct("hour").alias("n"))
        stats = cells.groupBy("user_id").agg(
            F.sum("cnt").alias("sx"),
            F.sum(F.col("cnt") * F.col("cnt")).alias("sx2"),
        )
        q = cells.filter(F.col("user_id") == query_user).select(
            "hour", F.col("cnt").alias("qcnt")
        )
        qstats = q.agg(
            F.sum("qcnt").alias("qsx"),
            F.sum(F.col("qcnt") * F.col("qcnt")).alias("qsx2"),
        )
        xy = (
            cells.join(F.broadcast(q), "hour")
            .groupBy("user_id")
            .agg(F.sum(F.col("cnt") * F.col("qcnt")).alias("sxy"))
        )
        n = F.col("n")
        var_x = n * F.col("sx2") - F.col("sx") * F.col("sx")
        var_q = n * F.col("qsx2") - F.col("qsx") * F.col("qsx")
        # per-factor double cast (not product-then-cast): each variance
        # is ~n·Σx² in BIGINT, so the product overflows long before the
        # moments do — mirrors the batch operator and its oracle
        corr = (
            n * F.coalesce(F.col("sxy"), F.lit(0))
            - F.col("sx") * F.col("qsx")
        ) / F.sqrt(var_x.cast("double") * var_q.cast("double"))
        out = (
            stats.join(xy, "user_id", "left")
            .crossJoin(F.broadcast(grid))
            .crossJoin(F.broadcast(qstats))
            .filter(
                (F.col("user_id") != query_user)
                & (var_x > 0)
                & (var_q > 0)
            )
            .select("user_id", F.round(corr, 6).alias("corr"))
        )
        publish_view(out, name)

    return _start_foreach_batch(events, _step)


_BITMAP_STREAM_WORD_BITS = 63


def bitmap_distinct_stream(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    name: str = "bitmap_distinct",
):
    """STREAMING twin of ``q_bitmap_distinct``: maintain the per-type
    bitmap WORD table incrementally across micro-batches and publish
    exact per-type distinct-user counts after every batch. The word OR
    is associative and idempotent, so the merge is redelivery-tolerant
    (re-OR-ing a user's bit is a no-op) — the property that makes the
    bitmap MV streaming-refreshable where a count-distinct partial is
    not. State = the word table, bounded by
    |types| × ceil(|users|/{_BITMAP_STREAM_WORD_BITS}) BIGINTs — the
    same cardinality the batch plan shuffles, never the raw stream.

    foreachBatch (not a chained stateful agg) because the published
    readout is a second-level aggregate (popcount sum) over the merged
    words; merging word partials keeps every count exact at all times
    and bit-equal to the batch operator on the same prefix (pinned in
    tests). Batch 0 drops any same-name leftover view — the
    restart-reset convention shared with ``ts_similarity_stream``."""
    spark = events.sparkSession
    events = _event_time(events, ts_col)
    bits = _BITMAP_STREAM_WORD_BITS

    def _step(batch: DataFrame, batch_id: int) -> None:
        delta = (
            batch.select(
                F.col(type_col).alias("event_type"),
                F.expr(
                    f"({user_col} - pmod({user_col}, {bits})) div {bits}"
                ).alias("word_id"),
                F.expr(
                    f"shiftleft(1L, CAST(pmod({user_col}, {bits}) AS INT))"
                ).alias("bit"),
            )
            .groupBy("event_type", "word_id")
            .agg(F.bit_or("bit").alias("word"))
        )
        words = _merge_view(
            spark,
            f"{name}_words",
            delta,
            batch_id,
            lambda both: both.groupBy("event_type", "word_id").agg(
                F.bit_or("word").alias("word")
            ),
        )
        out = words.groupBy("event_type").agg(
            F.sum(F.bit_count("word"))
            .cast("bigint")
            .alias("distinct_users"),
            F.count("*").cast("bigint").alias("bitmap_words"),
        )
        publish_view(out, name)

    return _start_foreach_batch(events, _step)
