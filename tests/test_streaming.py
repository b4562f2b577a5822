"""Streaming tests (SURVEY.md §5.3-5.4): batch/stream equivalence, late
data + watermark semantics, fan-out sink, stream-static scoring — the
parity the reference's two divergent
implementations (spark_consumer vs analytical_server) never established.

File-replay fixtures: events rows re-written as multiple parquet files in
ts order; ``maxFilesPerTrigger=1`` makes each file one micro-batch, so
watermark progression is scripted by the file split.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.catalog import (
    table,
)
from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.sources.streams import (
    file_replay_stream,
)
from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.core import (
    decode_wire_events,
    sliding_rolling_counts,
    windowed_counts_scaled,
)
from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.sinks import (
    fanout_foreach_batch,
    start_memory_sink,
)


@pytest.fixture(scope="module")
def events_df(spark, sf_dir):
    # first 2 hours of events — plenty of 1-minute windows, quick streams
    ev = table(spark, sf_dir, "events")
    lo = ev.agg(F.min("ts")).collect()[0][0]
    return ev.filter(
        F.col("ts") < F.lit(lo) + F.expr("INTERVAL 2 HOURS")
    ).select("event_id", "ts", "user_id", "event_type", "value")


@pytest.fixture()
def replay_dir(tmp_path, events_df):
    """events split into 4 ts-ordered parquet files (one per micro-batch)."""
    out = tmp_path / f"replay_{uuid.uuid4().hex[:8]}"
    n = events_df.count()
    chunk = n // 4 + 1
    rows = events_df.orderBy("ts", "event_id").collect()
    schema = events_df.schema
    for i in range(4):
        part = rows[i * chunk : (i + 1) * chunk]
        if part:
            events_df.sparkSession.createDataFrame(part, schema).coalesce(
                1
            ).write.parquet(str(out / f"part{i:02d}"))
    # flatten: move part files up so the dir is one flat parquet dataset
    flat = tmp_path / f"flat_{uuid.uuid4().hex[:8]}"
    flat.mkdir()
    idx = 0
    for sub in sorted(out.iterdir()):
        for f in sorted(sub.glob("*.parquet")):
            f.rename(flat / f"{idx:02d}.parquet")
            idx += 1
    return str(flat), schema


def _run_to_completion(stream_df, name, mode):
    # one file per trigger: run as fast as possible, not every 2 s
    q = start_memory_sink(stream_df, name, output_mode=mode, trigger=None)
    q.processAllAvailable()
    q.stop()


def test_stream_equals_batch_complete(spark, events_df, replay_dir):
    """Complete-mode final state == the batch aggregation (§5.3)."""
    directory, schema = replay_dir
    stream = file_replay_stream(spark, directory, schema)
    name = f"agg_{uuid.uuid4().hex[:8]}"
    _run_to_completion(windowed_counts_scaled(stream), name, "complete")
    got = {
        (r["event_type"], r["window"]["start"]): (r["cnt"], r["scaled_count"])
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    expected = {
        (r["event_type"], r["minute"]): (r["cnt"], r["scaled_count"])
        for r in events_df.groupBy(
            "event_type", F.date_trunc("minute", "ts").alias("minute")
        )
        .agg(F.count("*").alias("cnt"))
        .withColumn(
            "scaled_count",
            F.when(F.col("cnt") <= 1000, F.lit(1)).otherwise(
                F.col("cnt") / F.lit(1000.0)
            ),
        )
        .collect()
    }
    assert got == expected


def test_stream_update_mode_last_writes_equal_batch(spark, events_df, replay_dir):
    """Update mode: the LAST update per key equals the batch answer, and
    (unlike the reference's complete mode) each trigger emits only changed
    windows."""
    directory, schema = replay_dir
    stream = file_replay_stream(spark, directory, schema)
    name = f"upd_{uuid.uuid4().hex[:8]}"
    _run_to_completion(windowed_counts_scaled(stream), name, "update")
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    last = {}
    for r in rows:  # counts are monotonic per key -> max == final
        key = (r["event_type"], r["window"]["start"])
        last[key] = max(last.get(key, 0), r["cnt"])
    expected = {
        (r["event_type"], r["minute"]): r["cnt"]
        for r in events_df.groupBy(
            "event_type", F.date_trunc("minute", "ts").alias("minute")
        )
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert last == expected
    # update mode re-emitted fewer rows than complete re-emission would
    n_windows = len(expected)
    assert len(rows) < 4 * n_windows, "update mode should not re-emit all state each trigger"


def test_shuffled_order_within_watermark_invariant(spark, events_df, tmp_path):
    """§5.4: event order shuffled (within watermark tolerance) — final
    complete-mode state is unchanged."""
    shuffled = events_df.orderBy(F.xxhash64("event_id"))
    out = tmp_path / f"shuf_{uuid.uuid4().hex[:8]}"
    shuffled.coalesce(2).write.parquet(str(out))
    stream = file_replay_stream(spark, str(out), events_df.schema, 1)
    name = f"shuf_{uuid.uuid4().hex[:8]}"
    _run_to_completion(
        windowed_counts_scaled(stream, watermark="365 days"), name, "complete"
    )
    got = spark.sql(f"SELECT sum(cnt) AS n FROM {name}").collect()[0]["n"]
    assert got == events_df.count()


def test_append_mode_emits_only_watermark_closed_windows(spark, events_df, replay_dir):
    """Append + watermark: emitted rows are exactly the batch rows for
    windows the final watermark passed — the state actually bounded, unlike
    the reference's complete-mode + watermark combination (SURVEY §2.9 ST1)."""
    directory, schema = replay_dir
    stream = file_replay_stream(spark, directory, schema)
    name = f"app_{uuid.uuid4().hex[:8]}"
    _run_to_completion(windowed_counts_scaled(stream), name, "append")
    emitted = {
        (r["event_type"], r["window"]["start"]): r["cnt"]
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    batch = {
        (r["event_type"], r["minute"]): r["cnt"]
        for r in events_df.groupBy(
            "event_type", F.date_trunc("minute", "ts").alias("minute")
        )
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    max_ts = events_df.agg(F.max("ts")).collect()[0][0]
    assert emitted, "watermark should have closed at least the early windows"
    for key, cnt in emitted.items():
        assert batch[key] == cnt
        # every emitted window closed before the final watermark
        assert key[1] < max_ts


def test_late_beyond_watermark_dropped(spark, tmp_path):
    """§5.4: an event arriving after the watermark passed its window is
    dropped (documented divergence from the Python service, which miscounts
    it into the current minute — reference analytical_server.py:33-36)."""
    base = "2024-01-01 00:{m:02d}:00"
    rows1 = [(i, base.format(m=i % 3), "click") for i in range(60)]
    # batch 2 advances watermark far ahead, then batch 3 delivers a late row
    rows2 = [(100, "2024-01-01 01:00:00", "click")]
    rows3 = [(101, "2024-01-01 00:00:30", "click")]  # > 1 min late by now
    schema = "event_id long, ts_s string, event_type string"
    out = tmp_path / f"late_{uuid.uuid4().hex[:8]}"
    out.mkdir()
    import shutil

    for i, rows in enumerate([rows1, rows2, rows3]):
        tmp = out / f"b{i}"
        spark.createDataFrame(rows, schema).withColumn(
            "ts", F.to_timestamp("ts_s")
        ).select("event_id", "ts", "event_type").coalesce(1).write.parquet(str(tmp))
        pq = sorted(tmp.glob("*.parquet"))[0]
        pq.rename(out / f"{i:02d}.parquet")
        shutil.rmtree(tmp)
    ts_type = spark.read.parquet(str(out / "00.parquet")).schema
    stream = file_replay_stream(spark, str(out), ts_type, 1)
    name = f"late_{uuid.uuid4().hex[:8]}"
    # update mode: complete mode never filters late rows (state must be
    # preserved), update honors the watermark. Finals = max per key since
    # counts only grow.
    _run_to_completion(
        windowed_counts_scaled(stream, watermark="1 minute"), name, "update"
    )
    total = spark.sql(
        f"SELECT sum(cnt) AS n FROM (SELECT event_type, window, max(cnt) AS cnt "
        f"FROM {name} GROUP BY 1, 2)"
    ).collect()[0]["n"]
    assert total == len(rows1) + len(rows2)  # late row dropped


def test_fanout_delivers_every_batch_to_every_sink(spark, events_df, replay_dir):
    """S6 replacement: foreachBatch fan-out — all rows reach all sinks."""
    directory, schema = replay_dir
    stream = file_replay_stream(spark, directory, schema)
    seen_a, seen_b = [], []
    q = fanout_foreach_batch(
        stream.select("event_id"),
        [
            lambda df, bid: seen_a.extend(r["event_id"] for r in df.collect()),
            lambda df, bid: seen_b.extend(r["event_id"] for r in df.collect()),
        ],
        output_mode="append",
    )
    q.processAllAvailable()
    q.stop()
    expected = {r["event_id"] for r in events_df.select("event_id").collect()}
    assert set(seen_a) == expected
    assert set(seen_b) == expected


def test_wire_decode_matches_reference_payload(spark):
    """The reference's exact test payload (emojitest.py:12-16) decodes via
    from_json + ISO-micros parse; Z-suffix variant parses too (hard-part 3:
    no LEGACY parser policy)."""
    payloads = [
        ('{"user_id": "test_user", "emoji_type": "👍", '
         '"timestamp": "2024-11-19T12:34:56.789789"}',),
        ('{"user_id": "u2", "emoji_type": "❤️", '
         '"timestamp": "2024-11-19T12:34:56.789Z"}',),
        ('{"user_id": "u3", "emoji_type": "x"}',),  # missing field -> null ts
    ]
    raw = spark.createDataFrame(payloads, "value string")
    decoded = decode_wire_events(raw).collect()
    by_user = {r["user_id"]: r for r in decoded}
    assert by_user["test_user"]["emoji_type"] == "👍"
    assert by_user["test_user"]["ts"] is not None
    assert by_user["test_user"]["ts"].microsecond == 789789
    assert by_user["u3"]["ts"] is None


def test_sliding_rolling_equals_batch_range_frame(spark, events_df, replay_dir):
    """The sliding 3-min window's final state equals a batch 3-minute
    rolling sum evaluated at each covered minute (stream/batch parity for
    the analytics service's rolling window)."""
    directory, schema = replay_dir
    stream = file_replay_stream(spark, directory, schema)
    name = f"roll_{uuid.uuid4().hex[:8]}"
    _run_to_completion(
        sliding_rolling_counts(stream, watermark="365 days"), name, "complete"
    )
    got = {
        (r["event_type"], r["window"]["end"]): r["cnt"]
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    # batch twin: count per minute then 3-minute range-frame rolling sum
    from pyspark.sql import Window

    m = events_df.groupBy(
        "event_type", F.date_trunc("minute", "ts").alias("minute")
    ).agg(F.count("*").alias("cnt"))
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_timestamp(F.col("minute").cast("timestamp")))
        .rangeBetween(-120, 0)
    )
    batch = m.select(
        "event_type",
        (F.col("minute") + F.expr("INTERVAL 1 MINUTE")).alias("window_end"),
        F.sum("cnt").over(w).alias("rolling"),
    ).collect()
    for r in batch:
        assert got[(r["event_type"], r["window_end"])] == r["rolling"]


def test_checkpoint_recovery_resumes_state(spark, events_df, replay_dir, tmp_path):
    """Exactly-once recovery: a windowed aggregation killed mid-stream and
    restarted from its checkpoint resumes state (no double counting, no
    loss) — the delivery guarantee the reference's latest-offsets consumers
    give up (SURVEY §2.9 ST6)."""
    directory, schema = replay_dir
    ckpt = str(tmp_path / f"ckpt_{uuid.uuid4().hex[:8]}")
    out: dict = {}

    def capture(bdf, bid):
        for r in bdf.collect():
            out[(r["event_type"], r["window"]["start"])] = r["cnt"]

    def start():
        stream = file_replay_stream(spark, directory, schema)
        return (
            windowed_counts_scaled(stream)
            .writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch(capture)
        )

    # phase 1: process only the first two micro-batches, then kill
    q = start().trigger(processingTime="0 seconds").start()
    while len(q.recentProgress) < 2:
        import time as _t

        _t.sleep(0.2)
    q.stop()
    # phase 2: restart from the checkpoint, drain the rest
    q2 = start().trigger(availableNow=True).start()
    q2.awaitTermination()

    expected = {
        (r["event_type"], r["minute"]): r["cnt"]
        for r in events_df.groupBy(
            "event_type", F.date_trunc("minute", "ts").alias("minute")
        )
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert out == expected


def test_quarantine_split_catches_bad_wire_records(spark):
    """Corrupt JSON, missing fields, and unparseable timestamps land in
    quarantine; well-formed records pass — the reference's 400-reject
    semantics kept as data (api_server.py:55-56)."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.core import (
        split_quarantine,
    )

    payloads = [
        '{"user_id":"u1","emoji_type":"👍","timestamp":"2024-01-01T10:00:00.123456"}',
        'not json at all',
        '{"user_id":"u2","timestamp":"2024-01-01T10:00:00.123456"}',
        '{"user_id":"u3","emoji_type":"🔥","timestamp":"yesterday-ish"}',
        '{"user_id":"u4","emoji_type":"❤️","timestamp":"2024-01-01T10:00:01.000Z"}',
    ]
    raw = spark.createDataFrame([(p,) for p in payloads], "value string")
    valid, bad = split_quarantine(decode_wire_events(raw))
    ok_users = {r["user_id"] for r in valid.collect()}
    assert ok_users == {"u1", "u4"}
    assert bad.count() == 3


def test_observed_wire_metrics_surface_in_progress(spark, tmp_path):
    """observe() metrics ride the decode plan: counts of decode/parse
    failures appear in StreamingQueryProgress.observedMetrics."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.core import (
        with_wire_metrics,
    )

    payloads = [
        '{"user_id":"u1","emoji_type":"👍","timestamp":"2024-01-01T10:00:00.123456"}',
        'garbage',
        '{"user_id":"u2","emoji_type":"🔥","timestamp":"not-a-time"}',
    ]
    src = tmp_path / f"obs_{uuid.uuid4().hex[:8]}"
    spark.createDataFrame([(p,) for p in payloads], "value string").coalesce(
        1
    ).write.parquet(str(src))
    stream = spark.readStream.schema("value string").parquet(str(src))
    observed = with_wire_metrics(decode_wire_events(stream))
    q = (
        observed.writeStream.format("noop")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    metrics = None
    for p in q.recentProgress:
        if p.get("observedMetrics", {}).get("wire_metrics"):
            metrics = p["observedMetrics"]["wire_metrics"]
    assert metrics is not None
    assert metrics["n_rows"] == 3
    assert metrics["n_decode_failures"] == 1  # 'garbage'
    assert metrics["n_ts_failures"] == 2  # garbage + bad timestamp


def test_rocksdb_state_store_backend(spark, events_df, replay_dir):
    """The large-keyspace scale path: the same windowed aggregation runs
    on the RocksDB state store provider (state spills to local disk
    instead of living on the JVM heap — the backend a 100 TB keyspace
    needs) and produces the identical final state. Provider is set per
    runtime conf, restored afterwards."""
    directory, schema = replay_dir
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = file_replay_stream(spark, directory, schema)
        name = f"rocks_{uuid.uuid4().hex[:8]}"
        q = start_memory_sink(
            windowed_counts_scaled(stream),
            name,
            output_mode="complete",
            trigger=None,
        )
        q.processAllAvailable()
        # the running query's state operator actually uses RocksDB
        metrics = (q.lastProgress or {}).get("stateOperators", [])
        q.stop()
        got = {
            (r["event_type"], r["window"]["start"]): r["cnt"]
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        }
        expected = {
            (r["event_type"], r["minute"]): r["cnt"]
            for r in events_df.groupBy(
                "event_type", F.date_trunc("minute", "ts").alias("minute")
            )
            .agg(F.count("*").alias("cnt"))
            .collect()
        }
        assert got == expected
        assert metrics, "expected a state operator in progress metrics"
        custom = metrics[0].get("customMetrics", {})
        assert any("rocksdb" in k.lower() for k in custom), (
            f"state operator not on RocksDB: {sorted(custom)[:5]}"
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_stream_scoring_against_batch_moments(spark, events_df, replay_dir):
    """Model-scoring-on-a-stream shape: per-type value moments are
    computed in batch (the 'model'), broadcast onto the stream, and every
    event gets a z-score + outlier flag statelessly — the streaming twin
    of q_events_anomaly's scoring half. Flagged set must equal the batch
    computation."""
    directory, schema = replay_dir
    moments = events_df.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sd")
    )
    z = (F.col("value") - F.col("mu")) / F.when(F.col("sd") != 0, F.col("sd"))
    stream = file_replay_stream(spark, directory, schema, 2)
    scored = stream.join(F.broadcast(moments), "event_type").select(
        "event_id", z.alias("z")
    )
    name = f"score_{uuid.uuid4().hex[:8]}"
    _run_to_completion(scored, name, "append")
    got_flagged = {
        r["event_id"]
        for r in spark.sql(
            f"SELECT event_id FROM {name} WHERE ABS(z) > 2"
        ).collect()
    }
    expected_flagged = {
        r["event_id"]
        for r in events_df.join(F.broadcast(moments), "event_type")
        .filter(F.abs(z) > 2)
        .collect()
    }
    assert got_flagged == expected_flagged
    assert spark.sql(f"SELECT COUNT(*) n FROM {name}").first()["n"] == (
        events_df.count()
    )


def test_dq_monitor_stream_matches_batch_counts(spark, events_df, tmp_path):
    """The streaming constraint monitor's per-window counts equal the
    batch q_dq_audit arithmetic applied per minute — replaying the same
    rows yields identical violation counts."""
    import uuid as _uuid

    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.core import (
        DQ_STREAM_TYPES,
        dq_monitor_stream,
    )

    out = tmp_path / f"dq_{_uuid.uuid4().hex[:8]}"
    events_df.orderBy("ts", "event_id").coalesce(2).write.parquet(str(out))
    stream = (
        spark.readStream.schema(events_df.schema).parquet(str(out))
    )
    name = f"dqmon_{_uuid.uuid4().hex[:8]}"
    q = (
        dq_monitor_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["window"]["start"], r["n_rows"],
         r["null_user_violations"], r["domain_violations"])
        for r in spark.table(name).collect()
    }
    bad_type = ~F.col("event_type").isin(*DQ_STREAM_TYPES)
    expected = {
        (r["minute"], r["n_rows"], r["nulls"], r["bad"])
        for r in events_df.groupBy(
            F.date_trunc("minute", F.col("ts").cast("timestamp")).alias(
                "minute"
            )
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(
                F.when(F.col("user_id").isNull(), 1).otherwise(0)
            ).alias("nulls"),
            F.sum(F.when(bad_type, 1).otherwise(0)).alias("bad"),
        )
        .collect()
    }
    assert got == expected
