"""Custom stateful streaming operator (SURVEY.md §2.9 ST5).

The reference's ``EmojiAnalytics`` class (reference analytical_server.py:
12-109) is a hand-rolled stateful aggregator: per-type counters and a
global total mutated under a lock by a consumer thread. Its Spark-native
replacement for the *reference* semantics is built-in windowed aggregation
(streaming/core.py) — but the engine also exposes the genuinely-custom
path, ``applyInPandasWithState``, for stateful logic the built-in
operators can't express (per-key running aggregates with arbitrary
transition functions, TTL eviction, emitted deltas).

``running_key_stats`` is that path, kept deliberately close to the
reference's state shape (count + sum per key) so the batch equivalence
test can pin it to ``groupBy().agg()``:

- state per key: ``(n_events, total_value)`` — Arrow-serialized tuples in
  the state store, partitioned by the grouping key; scale-out is the state
  store's problem (RocksDB provider at 100 TB), not the operator's.
- output mode ``update``: one row per key per micro-batch in which the key
  was touched (or timed out) — the delta stream the reference's dashboard
  polls for.
- optional event-time TTL: keys idle past the watermark by ``ttl`` are
  evicted (the reference's 3-minute deque eviction, analytical_server.py:
  49-52, generalized and watermark-driven instead of arrival-driven).

Every per-key state in this module is held through
``applyInPandasWithState``. Spark 4's ``transformWithStateInPandas``
is not used: its Python worker speaks a protobuf protocol to the JVM
state server and so needs ``google.protobuf``, and it would add a
second state API with the same output.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

RUNNING_STATS_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("evicted", T.BooleanType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ]
)


def running_key_stats(
    events: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    ts_col: str = "ts",
    watermark: str = "1 minute",
    ttl_ms: int | None = None,
) -> DataFrame:
    """Per-key running (count, sum) over an unbounded stream via
    ``applyInPandasWithState``; emits the updated totals for every key
    touched in a micro-batch. With ``ttl_ms`` set, a key whose last
    activity falls ``ttl_ms`` behind the watermark is evicted and emits a
    final row flagged ``evicted=true``."""

    def update(
        key: tuple[str],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            n, total = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "key": [key[0]],
                    "n_events": [n],
                    "total_value": [total],
                    "evicted": [True],
                }
            )
            return
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((n, total))
        if ttl_ms is not None:
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + ttl_ms)
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "n_events": [n],
                "total_value": [total],
                "evicted": [False],
            }
        )

    timeout: Any = (
        GroupStateTimeout.EventTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    stream = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if ttl_ms is not None:
        # event-time timeouts require a watermark to measure idleness
        stream = stream.withWatermark(ts_col, watermark)
    return (
        stream.groupBy(F.col(key_col))
        .applyInPandasWithState(
            update,
            outputStructType=RUNNING_STATS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=timeout,
        )
    )


ATTRIBUTION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("channel", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)

_ATTR_STATE_SCHEMA = T.StructType(
    [
        T.StructField("lt_us", T.LongType()),  # last-touch ts (microseconds)
        T.StructField("lt_type", T.StringType()),
    ]
)

ATTR_TOUCH_TYPES = ("click", "view")
ATTR_LOOKBACK_US = 3 * 24 * 3600 * 1_000_000  # 3 days, matches batch op


def attribution_stream(
    events: DataFrame,
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming twin of ``q_attribution_last_touch``
    (operators/joins.py): per-user LAST-TOUCH state — one (ts, type)
    pair per user, the same state the batch window carries implicitly —
    updated by click/view rows; every purchase emits its attributed
    channel immediately (``direct`` when no touch within the 3-day
    lookback). State is one tuple per user regardless of history
    length — the constant-size-state property that makes attribution
    streamable at all.

    Rows within a micro-batch are processed in (ts, event_id) order, so
    in-order replay reproduces the batch answer exactly (pinned by
    tests/test_streaming.py); under cross-batch disorder the stream
    attributes against the touches SEEN SO FAR — the same
    arrival-vs-event-time divergence class as ``new_users_per_minute``
    (SURVEY §2 ST4)."""

    def update(
        key: tuple[int],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:  # pragma: no cover — no TTL configured
            state.remove()
            return
        lt_us, lt_type = state.get if state.exists else (None, None)
        out_user, out_event, out_channel, out_value = [], [], [], []
        pdf = pd.concat(list(pdfs))
        pdf = pdf.sort_values(["ts", "event_id"])
        for row in pdf.itertuples():
            ts_us = int(row.ts.value // 1_000)  # pandas ns -> us
            if row.event_type in ATTR_TOUCH_TYPES:
                lt_us, lt_type = ts_us, row.event_type
            elif row.event_type == "purchase":
                if lt_us is not None and lt_us >= ts_us - ATTR_LOOKBACK_US:
                    channel = lt_type
                else:
                    channel = "direct"
                out_user.append(key[0])
                out_event.append(row.event_id)
                out_channel.append(channel)
                out_value.append(row.value)
        if lt_us is not None:
            state.update((lt_us, lt_type))
        if out_user:
            yield pd.DataFrame(
                {
                    "user_id": out_user,
                    "event_id": out_event,
                    "channel": out_channel,
                    "value": out_value,
                }
            )

    stream = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return stream.groupBy(F.col("user_id")).applyInPandasWithState(
        update,
        outputStructType=ATTRIBUTION_SCHEMA,
        stateStructType=_ATTR_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


GROWTH_FLOW_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("day_num", T.LongType()),
        T.StructField("flow", T.StringType()),
    ]
)

_GROWTH_STATE_SCHEMA = T.StructType(
    [T.StructField("last_day", T.LongType())]
)

_US_PER_DAY = 86_400 * 1_000_000


def growth_flows_stream(
    events: DataFrame,
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming twin of ``q_growth_accounting``'s classification arm:
    per-user state is ONE integer — the last active day — and each
    first-touch-of-a-day emits its flow label (``new`` / ``retained`` /
    ``resurrected``) the moment it happens, instead of at the nightly
    batch. Constant per-user state, the same property that makes
    ``attribution_stream`` streamable.

    CHURN is deliberately absent from THIS form: a churn row is the
    OBSERVATION OF ABSENCE (no activity by end of day d+1), which
    streaming can only emit from a timer sweep. The churn-complete twin
    is :func:`growth_flows_churn_stream` (event-time timeouts); this
    timer-free variant remains for pipelines that only need the
    real-time new/retained/resurrected counters with zero timeout
    bookkeeping.

    In-order replay reproduces the batch classification exactly (rows
    are sorted by (ts, event_id) within each micro-batch; pinned in
    tests); under cross-batch disorder a late older-day event is
    ignored (the day already advanced) — arrival-order semantics."""

    def update(
        key: tuple[int],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:  # pragma: no cover — no TTL configured
            state.remove()
            return
        last_day = state.get[0] if state.exists else None
        pdf = pd.concat(list(pdfs))
        pdf = pdf.sort_values(["ts", "event_id"])
        out_day, out_flow = [], []
        for row in pdf.itertuples():
            d = int(row.ts.value // 1_000) // _US_PER_DAY
            if last_day is None:
                flow = "new"
            elif d == last_day:
                continue
            elif d == last_day + 1:
                flow = "retained"
            elif d > last_day:
                flow = "resurrected"
            else:  # older than the frontier — late arrival, day closed
                continue
            out_day.append(d)
            out_flow.append(flow)
            last_day = d
        if last_day is not None:
            state.update((last_day,))
        if out_day:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(out_day),
                    "day_num": out_day,
                    "flow": out_flow,
                }
            )

    stream = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return stream.groupBy(F.col("user_id")).applyInPandasWithState(
        update,
        outputStructType=GROWTH_FLOW_SCHEMA,
        stateStructType=_GROWTH_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_DAY_MS = 86_400 * 1_000


def growth_flows_churn_stream(
    events: DataFrame,
    ts_col: str = "ts",
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """CHURN-COMPLETE streaming growth accounting on the
    ``applyInPandasWithState`` backend via **event-time timeouts**
    (``GroupStateTimeout.EventTimeTimeout``) — closes the declared
    batch/stream asymmetry of :func:`growth_flows_stream`.

    Churn is the observation of ABSENCE: ``churned(d) ⇔ active(d−1) ∧
    ¬active(d)``. Three emission paths cover every way absence becomes
    observable, together reproducing the batch lead() derivation row
    for row (pinned in tests/test_streaming_timers.py):

    1. **Timeout sweep** — every activity re-arms the group's event-time
       timeout at start-of-day ``last+2`` (= end of the churn window
       ``last+1``). When the watermark passes it with no new activity,
       Spark invokes the group with ``hasTimedOut`` and we emit
       ``(user, last+1, "churned")``. Fresh activity overwrites the
       timeout, so a retained user never churns.
    2. **In-batch gap** — consecutive same-user days ``L → d`` with
       ``d > L+1`` arriving in one batch can never fire the timeout
       (data in the batch suppresses it), so the data path emits the
       missed ``(user, L+1, "churned")`` inline before the
       ``resurrected`` row.
    3. **Already-past window** — when the re-arm target is at or below
       the current watermark (history replayed after the watermark
       advanced), no future in-watermark event can contradict absence,
       so churn is emitted immediately instead of arming a dead timer.

    A ``churn_emitted`` flag in state makes paths 1 and 2 mutually
    exclusive across batches (a timeout in batch k, then a comeback in
    batch k+1, must not re-emit the same churn row). State survives a
    fired timeout — the comeback classifies ``resurrected``, matching
    the batch lag() rule.

    At 100 TB: per-user state is one (long, boolean) row plus one
    pending timeout — the same constant-state property as the
    classification-only stream; the timeout sweep is the state store's
    own range scan, not a per-batch full-keyspace pass."""
    state_schema = T.StructType(
        [
            T.StructField("last_day", T.LongType()),
            T.StructField("churn_emitted", T.BooleanType()),
        ]
    )

    def update(
        key: tuple[int],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            last_day, churn_emitted = state.get
            if not churn_emitted:
                # state persists (no remove()): a later comeback must
                # classify resurrected, exactly like the batch lag()
                state.update((last_day, True))
                yield pd.DataFrame(
                    {
                        "user_id": [key[0]],
                        "day_num": [last_day + 1],
                        "flow": ["churned"],
                    }
                )
            return
        last_day, churn_emitted = (
            state.get if state.exists else (None, False)
        )
        pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        out_day, out_flow = [], []
        for row in pdf.itertuples():
            d = int(row.ts.value // 1_000) // _US_PER_DAY
            if last_day is None:
                flow = "new"
            elif d == last_day:
                continue
            elif d == last_day + 1:
                flow = "retained"
            elif d > last_day:
                if not churn_emitted:  # path 2: timeout was suppressed
                    out_day.append(last_day + 1)
                    out_flow.append("churned")
                flow = "resurrected"
            else:  # older than the frontier — late arrival, day closed
                continue
            out_day.append(d)
            out_flow.append(flow)
            last_day = d
            churn_emitted = False
        if last_day is not None:
            # Spark clears a group's pending timeout on EVERY function
            # call — even one whose rows were all late no-ops — so the
            # watch must be re-armed here whenever the frontier's churn
            # is still unobserved, and only then.
            if churn_emitted:
                state.update((last_day, True))
            else:
                window_end_ms = (last_day + 2) * _DAY_MS
                if window_end_ms > state.getCurrentWatermarkMs():
                    state.update((last_day, False))
                    state.setTimeoutTimestamp(window_end_ms)
                else:  # path 3: window already swept past
                    state.update((last_day, True))
                    out_day.append(last_day + 1)
                    out_flow.append("churned")
        if out_day:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(out_day),
                    "day_num": out_day,
                    "flow": out_flow,
                }
            )

    stream = events.withColumn(
        ts_col, F.col(ts_col).cast("timestamp")
    ).withWatermark(ts_col, watermark_delay)
    return stream.groupBy(F.col("user_id")).applyInPandasWithState(
        update,
        outputStructType=GROWTH_FLOW_SCHEMA,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
