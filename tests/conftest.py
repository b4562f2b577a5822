"""Shared pytest fixtures: one SparkSession per test run, DuckDB oracle
helper mirroring the driver's correctness harness (row-count + schema-name +
order-insensitive value comparison)."""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark import SparkContext

from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.catalog import (
    TABLES,
)
from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.plans.registry import (
    norm_rows,
)
from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.session import (
    build_session,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = build_session(app_name="engine_tests", shuffle_partitions=8)
    yield s
    if _jvm_exit_code() is None:
        s.stop()


def _jvm_exit_code():
    """The Spark JVM's exit code, or None while it runs (or before any
    session launched it)."""
    proc = getattr(SparkContext._gateway, "proc", None)
    return None if proc is None else proc.poll()


def pytest_runtest_logreport(report):
    """Stop the run once the Spark JVM has exited: every later test that
    needs the session would fail on the dead py4j connection and bury
    the one that lost it under dozens of unrelated failures."""
    code = _jvm_exit_code()
    if code is not None:
        pytest.exit(
            f"Spark JVM exited with code {code} during {report.nodeid} "
            f"({report.when}); stopping the run",
            returncode=1,
        )


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def assert_matches_oracle(spark_df, duck_con, sql):
    """Mirror of the driver's check: same column names, same multiset of
    row values (column-order- and row-order-insensitive)."""
    sc, sr = norm_rows(spark_df.columns, spark_df.collect())
    res = duck_con.execute(sql)
    dc, dr = norm_rows([c[0] for c in res.description], res.fetchall())
    assert sc == dc, f"schema mismatch: spark={sc} duck={dc}"
    assert len(sr) == len(dr), f"row count mismatch: spark={len(sr)} duck={len(dr)}"
    mismatches = [(a, b) for a, b in zip(sr, dr) if a != b]
    assert not mismatches, f"value mismatch ({len(mismatches)} rows), first: {mismatches[:3]}"
