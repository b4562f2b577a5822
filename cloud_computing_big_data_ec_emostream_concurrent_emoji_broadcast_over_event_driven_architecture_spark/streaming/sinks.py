"""Streaming sinks (SURVEY.md §2.1 S4-S8 equivalents).

The reference fans every Kafka message out to every WebSocket cluster
(pubsub.py:98-103) and serves aggregation state over HTTP
(analytical_server.py:137-150). The engine's equivalents:

- ``fanout_foreach_batch``: one query, N sink callables per micro-batch —
  the broadcast fan-out (S6) without hand-rolled consumer loops. Exactly-
  once per sink is the sink's job (idempotent writes keyed by batch_id).
  It runs as fast as possible: the live feed starts a batch as soon as a
  spool file lands.
- ``start_memory_sink``: named in-memory table — the queryable state the
  HTTP tier reads (S8), also the test harness's observation point. It
  refreshes on the reference's 2 s processing-time trigger
  (``MEMORY_SINK_TRIGGER``), so beside a fan-out query over the same
  source it does not pay a second micro-batch's fixed cost (planning,
  codegen, state commits, job scheduling) on every spool file.
- ``start_kafka_sink``: the S4 producer path (requires the Kafka connector
  jar on the classpath; import-try gated at call time).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

BatchSink = Callable[[DataFrame, int], None]

# the reference's aggregate trigger (spark_consumer.py:52)
MEMORY_SINK_TRIGGER = "2 seconds"


def fanout_foreach_batch(
    df: DataFrame,
    sinks: Sequence[BatchSink],
    output_mode: str = "update",
    query_name: str = "fanout",
    trigger: str | None = None,
) -> StreamingQuery:
    """Every micro-batch is delivered to every sink — the engine's form of
    the reference's all-clusters broadcast (pubsub.py:98-103). The batch
    frame is persisted once so N sinks don't recompute the plan N times."""

    def deliver(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            for sink in sinks:
                sink(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    writer = df.writeStream.outputMode(output_mode).queryName(query_name)
    if trigger:
        writer = writer.trigger(processingTime=trigger)
    return writer.foreachBatch(deliver).start()


def start_memory_sink(
    df: DataFrame,
    query_name: str,
    output_mode: str = "update",
    trigger: str | None = MEMORY_SINK_TRIGGER,
) -> StreamingQuery:
    """Aggregation state as a queryable in-memory table
    (``spark.sql(f"SELECT * FROM {query_name}")``).

    The table refreshes every ``trigger`` (default the reference's
    ``"2 seconds"``); ``trigger=None`` runs as fast as possible. The
    trade: a reader of this table (``/api/*``) may lag a fan-out query
    over the same source by up to one interval plus one batch. In update
    mode the table keeps every emission, so a slower trigger also grows
    it more slowly and makes each read of it cheaper."""
    writer = (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
    )
    if trigger:
        writer = writer.trigger(processingTime=trigger)
    return writer.start()


def start_kafka_sink(
    df: DataFrame,
    topic: str,
    bootstrap_servers: str,
    checkpoint_dir: str,
    output_mode: str = "update",
) -> StreamingQuery:
    """Kafka producer sink (reference api_server.py:19-47's micro-batching
    producer, done by the engine: trigger = the batch clock, checkpoint =
    the delivery ledger). Needs the spark-sql-kafka connector jar."""
    from pyspark.sql import functions as F

    payload = df.select(
        F.to_json(F.struct(*df.columns)).alias("value")
    )
    return (
        payload.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
        .start()
    )
