"""Event-time timer streaming: churn-complete growth accounting.

Round-6 advisory item 4: churn is the observation of ABSENCE, which
only a timer/timeout sweep can emit. ``growth_flows_churn_stream``
closes the declared batch/stream asymmetry of ``growth_flows_stream``
with ``applyInPandasWithState`` + ``GroupStateTimeout.EventTimeTimeout``.

These tests replay multi-day fixtures and pin row-for-row parity with
the batch lag()/lead() classification INCLUDING churn rows.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.catalog import (
    table,
)
from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.sources.streams import (
    file_replay_stream,
)
from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.stateful import (
    growth_flows_churn_stream,
)

BACKENDS = [
    pytest.param(growth_flows_churn_stream, id="event_time_timeout"),
]


def _batch_flows_with_churn(ev):
    """The batch system of record: per-user day cells classified by
    lag(), churn derived from the SAME cells via lead() — churned(d)
    iff active(d-1) and not active(d)."""
    cells = ev.select(
        "user_id",
        (
            F.unix_timestamp(
                F.date_trunc("day", F.col("ts")).cast("timestamp")
            )
            / 86400
        )
        .cast("long")
        .alias("day_num"),
    ).distinct()
    w = W.partitionBy("user_id").orderBy("day_num")
    flow = (
        F.when(F.lag("day_num").over(w).isNull(), F.lit("new"))
        .when(
            F.col("day_num") - F.lag("day_num").over(w) == 1,
            F.lit("retained"),
        )
        .otherwise(F.lit("resurrected"))
    )
    active = {
        (r.user_id, r.day_num, r.flow)
        for r in cells.select("user_id", "day_num", flow.alias("flow"))
        .collect()
    }
    nxt = F.lead("day_num").over(w)
    churn = {
        (r.user_id, r.day_num + 1, "churned")
        for r in cells.select("user_id", "day_num", nxt.alias("nxt"))
        .filter(F.col("nxt").isNull() | (F.col("nxt") > F.col("day_num") + 1))
        .collect()
    }
    return active, churn


def _run_stream(spark, impl, stream, ckpt):
    name = f"growth_timer_{uuid.uuid4().hex[:8]}"
    q = (
        impl(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(ckpt))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return {
        (r.user_id, r.day_num, r.flow)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }


@pytest.mark.parametrize("impl", BACKENDS)
def test_timer_stream_matches_batch_including_churn(
    spark, sf_dir, tmp_path, impl
):
    """Multi-day in-order replay + a far-future sentinel event (to push
    the watermark past every churn window): the timer stream's flows
    equal the batch classification EXACTLY, churn included."""
    ev = table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    rows = ev.orderBy("ts", "event_id").collect()
    flat = tmp_path / f"timer_replay_{uuid.uuid4().hex[:8]}"
    flat.mkdir()
    chunk = len(rows) // 4 + 1
    n = 0
    for i in range(4):
        part = rows[i * chunk : (i + 1) * chunk]
        if part:
            spark.createDataFrame(part, ev.schema).coalesce(1).write.parquet(
                str(tmp_path / f"tmp{i}")
            )
            for f in sorted((tmp_path / f"tmp{i}").glob("*.parquet")):
                f.rename(flat / f"{n:02d}.parquet")
                n += 1
    # sentinel: one event 30 days out advances the watermark past every
    # churn-observation window (excluded from the comparison below)
    max_ts = max(r.ts for r in rows)
    import datetime as dt

    sentinel = [
        (
            10**12,
            max_ts + dt.timedelta(days=30),
            -1,
            "sentinel",
            0.0,
        )
    ]
    spark.createDataFrame(sentinel, ev.schema).coalesce(1).write.parquet(
        str(tmp_path / "tmp_sent")
    )
    for f in sorted((tmp_path / "tmp_sent").glob("*.parquet")):
        f.rename(flat / f"{n:02d}.parquet")
        n += 1

    stream = file_replay_stream(spark, str(flat), ev.schema)
    got = _run_stream(spark, impl, stream, tmp_path / "ckpt")
    got = {g for g in got if g[0] != -1}

    active, churn = _batch_flows_with_churn(ev)
    assert got & churn == churn, (
        f"missing churn rows: {sorted(churn - got)[:5]}"
    )
    assert {g for g in got if g[2] != "churned"} == active
    assert {g for g in got if g[2] == "churned"} == churn
    assert churn  # non-degenerate: the fixture really has churners


@pytest.mark.parametrize("impl", BACKENDS)
def test_timer_does_not_fire_for_retained_user(
    spark, tmp_path, impl
):
    """A user active every single day never emits churn DURING the
    active run — re-arming replaces the stale watch — and churns
    exactly once, the day after activity ends (the batch lead()-IS-NULL
    rule). A second user active only days 0-1 churns once, on day 2."""
    import datetime as dt

    base = dt.datetime(2024, 3, 1)
    rows = []
    eid = 0
    for day in range(5):
        for u, active in ((1, True), (2, day in (0, 1))):
            if active:
                rows.append(
                    (eid, base + dt.timedelta(days=day), u, "click", 1.0)
                )
                eid += 1
    rows.append((999, base + dt.timedelta(days=40), -1, "sentinel", 0.0))
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double"
    )
    flat = tmp_path / "daily"
    flat.mkdir()
    for i, r in enumerate(rows):
        spark.createDataFrame([r], schema).coalesce(1).write.parquet(
            str(tmp_path / f"t{i}")
        )
        for f in sorted((tmp_path / f"t{i}").glob("*.parquet")):
            f.rename(flat / f"{i:03d}.parquet")

    stream = file_replay_stream(
        spark, str(flat), spark.createDataFrame([], schema).schema
    )
    got = _run_stream(spark, impl, stream, tmp_path / "ckpt2")
    day0 = int(base.timestamp()) // 86400
    u1 = {(d - day0, f) for (u, d, f) in got if u == 1}
    assert u1 == {
        (0, "new"),
        (1, "retained"),
        (2, "retained"),
        (3, "retained"),
        (4, "retained"),
        (5, "churned"),  # activity ended on day 4: lead()-IS-NULL churn
    }
    u2 = {(d - day0, f) for (u, d, f) in got if u == 2}
    assert u2 == {(0, "new"), (1, "retained"), (2, "churned")}


def test_churn_then_comeback_is_resurrected_not_new(spark, tmp_path):
    """State survives a fired timeout: a user who churns on day 2 and
    returns on day 6 classifies resurrected (batch lag() rule), and the
    gap-day churn row (day 2) is emitted exactly once even though the
    comeback batch re-observes the same gap."""
    import datetime as dt

    base = dt.datetime(2024, 3, 1)
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double"
    )
    # file order scripts the watermark: day 0-1 activity, then a
    # sentinel advancing the watermark past the churn window (timeout
    # fires), then the comeback on day 6, then a final sentinel.
    batches = [
        [(0, base, 7, "click", 1.0)],
        [(1, base + dt.timedelta(days=1), 7, "click", 1.0)],
        [(2, base + dt.timedelta(days=4), -1, "sentinel", 0.0)],
        [(3, base + dt.timedelta(days=6), 7, "click", 1.0)],
        [(4, base + dt.timedelta(days=40), -1, "sentinel", 0.0)],
    ]
    flat = tmp_path / "comeback"
    flat.mkdir()
    for i, b in enumerate(batches):
        spark.createDataFrame(b, schema).coalesce(1).write.parquet(
            str(tmp_path / f"t{i}")
        )
        for f in sorted((tmp_path / f"t{i}").glob("*.parquet")):
            f.rename(flat / f"{i:03d}.parquet")

    stream = file_replay_stream(
        spark, str(flat), spark.createDataFrame([], schema).schema
    )
    name = f"comeback_{uuid.uuid4().hex[:8]}"
    q = (
        growth_flows_churn_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    day0 = int(base.timestamp()) // 86400
    rows = [
        (r.day_num - day0, r.flow)
        for r in spark.sql(
            f"SELECT * FROM {name} WHERE user_id = 7"
        ).collect()
    ]
    assert sorted(rows) == [
        (0, "new"),
        (1, "retained"),
        (2, "churned"),
        (6, "resurrected"),
        (7, "churned"),
    ]
    assert rows.count((2, "churned")) == 1  # no double-emit
