"""End-to-end Kafka round-trip (reference spark_consumer.py:19-25 +
api_server.py:33-37): producer → ``emoji_topic`` → kafka source → wire
decode → watermarked windowed counts → kafka sink → read-back.

Env-gated: this sandbox ships neither a broker nor the
spark-sql-kafka connector jar, so the suite SKIPS unless

    SPARK_GRAFT_KAFKA_BOOTSTRAP=host:port   (a reachable broker)

and the kafka DataSource is registered on the session's classpath
(start pyspark with ``--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>``).
Wherever those hold, this exercises the exact builders the engine ships
(kafka_events_stream / decode_wire_events / windowed_counts_scaled /
start_kafka_sink) against a real broker — closing SURVEY §2 rows S1, S4
and ST6 with evidence rather than config-only builders.
"""

from __future__ import annotations

import os
import socket
import uuid

import pytest
from pyspark.sql import functions as F

from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.sources.streams import (
    kafka_events_stream,
)
from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.core import (
    decode_wire_events,
    windowed_counts_scaled,
)

BOOTSTRAP = os.environ.get("SPARK_GRAFT_KAFKA_BOOTSTRAP", "")


def _broker_reachable(bootstrap: str) -> bool:
    if not bootstrap or ":" not in bootstrap:
        return False
    host, _, port = bootstrap.rpartition(":")
    try:
        with socket.create_connection((host, int(port)), timeout=2):
            return True
    except OSError:
        return False


requires_kafka = pytest.mark.skipif(
    not _broker_reachable(BOOTSTRAP),
    reason=(
        "no Kafka broker reachable at SPARK_GRAFT_KAFKA_BOOTSTRAP="
        f"{BOOTSTRAP!r} — set it to host:port of a live broker; the "
        "in-repo transport for broker-less environments is the gateway "
        "spool (streaming/ingest.py ingest_stream)"
    ),
)


def _skip_unless_usable(spark) -> None:
    """Session-level gate: skip with the SPECIFIC missing piece named
    (jar vs broker) as reported by kafka_connector_status."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.sources.streams import (
        kafka_connector_status,
    )

    status = kafka_connector_status(spark, BOOTSTRAP)
    if not status["usable"]:
        pytest.skip(status["reason"])


@requires_kafka
def test_kafka_round_trip_windowed_counts(spark, tmp_path):
    _skip_unless_usable(spark)

    in_topic = f"emoji_topic_{uuid.uuid4().hex[:8]}"
    out_topic = f"emoji_counts_{uuid.uuid4().hex[:8]}"

    # Produce the reference's wire JSON with a Kafka BATCH write (same
    # connector, no external client library needed).
    events = spark.createDataFrame(
        [
            ("user_1", "👍", "2024-01-01T00:00:05.000000"),
            ("user_2", "👍", "2024-01-01T00:00:20.000000"),
            ("user_3", "❤️", "2024-01-01T00:00:40.000000"),
        ],
        "user_id string, emoji_type string, timestamp string",
    )
    (
        events.select(
            F.to_json(F.struct("user_id", "emoji_type", "timestamp")).alias(
                "value"
            )
        )
        .write.format("kafka")
        .option("kafka.bootstrap.servers", BOOTSTRAP)
        .option("topic", in_topic)
        .save()
    )

    # Source → decode → windowed counts, checkpointed (ST6): earliest
    # offsets + checkpoint dir give exactly-once aggregate semantics.
    raw = kafka_events_stream(
        spark, topic=in_topic, bootstrap_servers=BOOTSTRAP
    )
    counts = windowed_counts_scaled(
        decode_wire_events(raw), key_col="emoji_type"
    )
    wire_out = counts.select(
        F.to_json(
            F.struct(
                F.col("window.start").alias("window_start"),
                "emoji_type",
                "cnt",
                "scaled_count",
            )
        ).alias("value")
    )
    q = (
        wire_out.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", BOOTSTRAP)
        .option("topic", out_topic)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # Read the sink topic back (batch) and check the aggregate payloads.
    rows = (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", BOOTSTRAP)
        .option("subscribe", out_topic)
        .option("startingOffsets", "earliest")
        .load()
        .select(F.col("value").cast("string").alias("value"))
        .collect()
    )
    import json

    payloads = {
        (p["emoji_type"], p["cnt"])
        for p in (json.loads(r["value"]) for r in rows)
    }
    assert ("👍", 2) in payloads
    assert ("❤️", 1) in payloads


def test_connector_status_names_missing_pieces(spark):
    """The gate is observable: in a broker-less env the status names the
    missing jar/broker explicitly and points at the gateway spool
    (round-6 advisory: no silent/generic skip reasons)."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.sources.streams import (
        kafka_connector_status,
    )

    status = kafka_connector_status(spark, bootstrap="")
    assert set(status) >= {
        "jar", "bootstrap", "broker_reachable", "usable", "reason"
    }
    if status["usable"]:
        assert status["reason"] == "ok"
    else:
        # the reason must name at least one concrete missing piece and
        # the in-repo transport
        assert "ingest_stream" in status["reason"]
        assert ("jar" in status["reason"]) or ("broker" in status["reason"])
    # with no bootstrap the broker can never be reachable
    assert status["broker_reachable"] is False
