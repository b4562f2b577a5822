"""Stream source builders (SURVEY.md §2.1 S1-S3 equivalents).

- ``kafka_events_stream``: the reference's source (spark_consumer.py:19-25)
  verbatim — subscribe, offsets, binary value. Engine default is
  ``earliest`` + checkpointing for exactly-once aggregates; the
  reference's ``latest`` (at-most-once on restart, SURVEY.md §2.9 ST6)
  stays available as an option.
- ``file_replay_stream``: parquet-directory replay with
  ``maxFilesPerTrigger`` — the deterministic test/backfill source; one
  file per trigger turns a fixture directory into a micro-batch script.
- ``rate_stream``: built-in load generator (the engine twin of the
  reference's synthetic senders, client.py:47-51).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def kafka_events_stream(
    spark: SparkSession,
    topic: str = "emoji_topic",
    bootstrap_servers: str = "localhost:9092",
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka source (requires the spark-sql-kafka connector jar on the
    classpath — not bundled in this environment; the builder itself is
    config-only and cheap to construct)."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )


def kafka_connector_status(
    spark: SparkSession, bootstrap: str | None = None
) -> dict:
    """Observable gate for the Kafka path: reports, at session level,
    exactly what is (and isn't) available so every downstream consumer
    — the integration tests' skip reasons, a deploy preflight, README
    troubleshooting — names the SPECIFIC missing piece instead of a
    generic "kafka unavailable".

    Returns ``{"jar": bool, "bootstrap": str, "broker_reachable": bool,
    "usable": bool, "reason": str}`` where ``reason`` is the
    human-readable verdict ("ok", or which of the connector jar /
    broker is missing and how to supply it). When the path is unusable,
    the in-repo transport is the gateway spool
    (``streaming/ingest.py`` ``ingest_stream``) — same wire format,
    replayable file offsets under checkpointing."""
    import os as _os
    import socket as _socket

    jar = True
    try:
        spark._jvm.org.apache.spark.sql.kafka010.KafkaSourceProvider  # noqa: SLF001
    except Exception:
        jar = False
    bootstrap = bootstrap or _os.environ.get(
        "SPARK_GRAFT_KAFKA_BOOTSTRAP", ""
    )
    reachable = False
    if bootstrap and ":" in bootstrap:
        host, _, port = bootstrap.rpartition(":")
        try:
            with _socket.create_connection((host, int(port)), timeout=2):
                reachable = True
        except OSError:
            reachable = False
    missing = []
    if not jar:
        missing.append(
            "spark-sql-kafka connector jar not on classpath (launch with "
            "--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<ver>)"
        )
    if not bootstrap:
        missing.append(
            "no broker configured (set SPARK_GRAFT_KAFKA_BOOTSTRAP=host:port)"
        )
    elif not reachable:
        missing.append(f"broker {bootstrap!r} not reachable")
    usable = jar and reachable
    return {
        "jar": jar,
        "bootstrap": bootstrap,
        "broker_reachable": reachable,
        "usable": usable,
        "reason": "ok"
        if usable
        else "; ".join(missing)
        + " — use the gateway spool (streaming/ingest.py ingest_stream) "
        "as the in-repo transport",
    }


def file_replay_stream(
    spark: SparkSession,
    directory: str,
    schema: T.StructType,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Parquet-directory replay: each fixture file becomes one micro-batch
    (ordering by file name), which makes watermark progression scriptable
    in tests."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(directory)
    )


def rate_stream(spark: SparkSession, rows_per_second: int = 1000) -> DataFrame:
    """Built-in rate source — synthetic load (timestamp, value)."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )


EMOJI_VOCAB = ["👍", "❤️", "😂", "🎉", "😢", "🔥", "👏", "🏆", "😮", "💔"]


def synthetic_wire_stream(spark: SparkSession, rows_per_second: int = 1000) -> DataFrame:
    """Rate source rendered as the reference's wire JSON (the synthetic
    senders, reference client.py:47-51): one ``value`` string column of
    ``{"user_id", "emoji_type", "timestamp"}`` payloads with ISO-micros
    timestamps. Shared by the demo, the throughput bench, and tests so
    every consumer exercises the identical byte contract."""
    from pyspark.sql import functions as F

    return rate_stream(spark, rows_per_second).select(
        F.to_json(
            F.struct(
                F.concat(F.lit("user_"), (F.col("value") % 100)).alias(
                    "user_id"
                ),
                F.element_at(
                    F.array(*[F.lit(e) for e in EMOJI_VOCAB]),
                    (F.col("value") % len(EMOJI_VOCAB) + 1).cast("int"),
                ).alias("emoji_type"),
                F.date_format(
                    "timestamp", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
                ).alias("timestamp"),
            )
        ).alias("value")
    )


