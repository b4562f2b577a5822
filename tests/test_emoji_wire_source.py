"""The emoji_wire custom Python DataSource: partitioned batch reads,
replayable streaming micro-batches, and decode parity with the engine's
wire contract."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.sources.emoji_wire import (
    EMOJI_VOCAB,
    EmojiWireDataSource,
    wire_payload,
)
from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.core import (
    decode_wire_events,
)


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    spark.dataSource.register(EmojiWireDataSource)


def test_batch_read_partitioned_and_deterministic(spark):
    df = (
        spark.read.format("emoji_wire")
        .option("rows", 250)
        .option("partitions", 4)
        .load()
    )
    assert df.schema.simpleString() == "struct<value:string>"
    rows = [r["value"] for r in df.collect()]
    assert len(rows) == 250
    # deterministic: the multiset of payloads equals the generator's
    assert sorted(rows) == sorted(wire_payload(i) for i in range(250))
    # actually partitioned — not one driver-side iterator
    assert df.rdd.getNumPartitions() == 4


def test_decode_parity_with_wire_contract(spark):
    raw = spark.read.format("emoji_wire").option("rows", 100).load()
    decoded = decode_wire_events(raw)
    got = decoded.agg(
        F.count("*").alias("n"),
        F.sum(F.col("ts").isNull().cast("int")).alias("bad_ts"),
        F.countDistinct("emoji_type").alias("n_emoji"),
    ).first()
    assert got["n"] == 100
    assert got["bad_ts"] == 0, "every generated timestamp must parse"
    assert got["n_emoji"] == len(EMOJI_VOCAB)


def test_stream_micro_batches_replayable(spark, tmp_path):
    name = f"wire_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("emoji_wire")
        .option("rows_per_batch", 40)
        .option("max_rows", 120)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    # Python stream sources don't implement Trigger.AvailableNow; drain
    # with processAllAvailable (the reader stops advancing at max_rows)
    q.processAllAvailable()
    q.stop()
    rows = [r["value"] for r in spark.sql(f"SELECT * FROM {name}").collect()]
    assert sorted(rows) == sorted(wire_payload(i) for i in range(120))
