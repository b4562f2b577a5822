"""Round-10 (optimization round 1) focused tests.

Each test pins an optimization's *mechanism* (the thing that makes it
fast) without re-testing query results — the oracle harness owns
result parity.
"""

from __future__ import annotations

from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.caches import (
    _MEMO,
    SESSION_CACHE_CLEARERS,
)
from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.catalog import (
    table,
)

SF_DIR = "/root/testdata/sf0.001"


def _clear_reader_plans() -> None:
    SESSION_CACHE_CLEARERS()["table_reader_plans"]()


def _reader_memo() -> dict:
    return {k: v for k, v in _MEMO.items() if k[0] == "table_reader_plans"}


def test_table_reader_memo_reuses_plan_handle(spark):
    """Repeated table() calls must return the SAME DataFrame object
    (one schema inference per session+fixture+table), and the memo must
    hold plan handles only — never persisted rows."""
    _clear_reader_plans()
    df1 = table(spark, SF_DIR, "lineitem")
    df2 = table(spark, SF_DIR, "lineitem")
    assert df1 is df2
    # distinct tables / fixtures get distinct entries
    ev = table(spark, SF_DIR, "events")
    assert ev is not df1
    # the memoized events frame still carries the nano-ts rebuild
    assert ev.schema["ts"].dataType.typeName() == "timestamp_ntz"
    # nothing persisted: the memo is plans, not data
    assert all(
        df.storageLevel.useMemory is False
        and df.storageLevel.useDisk is False
        for df in _reader_memo().values()
    )
    _clear_reader_plans()
    assert not _reader_memo()


def test_table_reader_memo_keyed_per_session(spark):
    """Entries are keyed by applicationId so a memoized plan can never
    be served to (or leak across) a different SparkSession."""
    _clear_reader_plans()
    table(spark, SF_DIR, "nation")
    app_id = spark.sparkContext.applicationId
    assert all(k[1] == app_id for k in _reader_memo())
    _clear_reader_plans()
