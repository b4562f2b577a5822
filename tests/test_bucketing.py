"""Bucketed-table co-located join: writing both sides bucketed on the
join key removes the shuffle — the plan's SortMergeJoin has no Exchange
on either side. This is the pre-partitioning lever for repeated joins at
100 TB (pay the layout once, join shuffle-free forever)."""

from __future__ import annotations

import itertools
import uuid

import pytest
from pyspark.sql import functions as F

from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.catalog import (
    table,
    write_bucketed,
)
from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.plans.profile import (
    plan_nodes,
)


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path_factory):
    tag = uuid.uuid4().hex[:8]
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    write_bucketed(orders, f"orders_b_{tag}", ("o_custkey",))
    write_bucketed(customer, f"customer_b_{tag}", ("c_custkey",))
    ob = spark.table(f"orders_b_{tag}")
    cb = spark.table(f"customer_b_{tag}")
    # disable auto-broadcast so the join strategy question is real
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = ob.join(cb, ob.o_custkey == cb.c_custkey).groupBy(
            "c_mktsegment"
        ).agg(F.count("*").alias("n"))
        nodes = plan_nodes(joined, builds=True)
        names = [n.name for n in nodes]
        assert "SortMergeJoinExec" in names
        i = names.index("SortMergeJoinExec")
        below = itertools.takewhile(
            lambda n: n.depth > nodes[i].depth, nodes[i + 1:]
        )
        exchanges = [
            n.string for n in below
            if n.name in (
                "ShuffleExchangeExec", "BroadcastExchangeExec", "ReusedExchangeExec"
            )
        ]
        assert not exchanges, exchanges
        # and the result matches the unbucketed join
        expected = (
            orders.join(customer, orders.o_custkey == customer.c_custkey)
            .groupBy("c_mktsegment")
            .agg(F.count("*").alias("n"))
        )
        assert sorted(map(tuple, joined.collect())) == sorted(
            map(tuple, expected.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
        spark.sql(f"DROP TABLE IF EXISTS orders_b_{tag}")
        spark.sql(f"DROP TABLE IF EXISTS customer_b_{tag}")


def test_bucketed_pair_distinct_for_same_basename(spark, sf_dir, tmp_path):
    """Two fixture dirs sharing a basename must map to DISTINCT catalog
    tables (the memo tag hashes the FULL path): a second fixture named
    `sfX` under a different parent can never silently serve the first
    fixture's bucketed data."""
    import os

    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.joins import (
        _bucketed_pair,
    )

    a = tmp_path / "parent_a" / "sfsame"
    b = tmp_path / "parent_b" / "sfsame"
    for d in (a, b):
        d.parent.mkdir(parents=True, exist_ok=True)
        os.symlink(sf_dir, d)
    before = {t.name for t in spark.catalog.listTables()}
    try:
        _bucketed_pair(spark, str(a))
        mid = {t.name for t in spark.catalog.listTables()} - before
        _bucketed_pair(spark, str(b))
        after = {t.name for t in spark.catalog.listTables()} - before
        # the second fixture created its OWN tables, not reused a's
        assert len(mid) == 2 and len(after) == 4, (mid, after)
    finally:
        for t in {t.name for t in spark.catalog.listTables()} - before:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
