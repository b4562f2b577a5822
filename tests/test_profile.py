"""The live-plan walker (``plans.profile``): it stops at a cached
relation's scan instead of reading the relation's stored build plan, and
``profile`` reports the metrics of the plan that ran, the build plans
that ran inside it included.

Both call the module with the session fixture; the CLI's ``profile``
verb would stop the shared session when it returns."""

from __future__ import annotations

from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.plans.profile import (
    plan_nodes,
    profile,
)
from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.plans.registry import (
    all_specs,
)


def test_walk_stops_at_cached_scan(spark, sf_dir):
    """With the shingle memo built, q_dedup_containment reads it through
    InMemoryTableScanExec; the parquet scans of its build plan are not
    live, so the walk finds none."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.dedup import (
        _hashed_shingle_sets,
    )

    _hashed_shingle_sets(spark, sf_dir).count()
    df = all_specs()["q_dedup_containment"].fn(spark, sf_dir)
    names = [n.name for n in plan_nodes(df)]
    assert "InMemoryTableScanExec" in names
    assert "FileSourceScanExec" not in names


def test_profile_reports_executed_rows(spark, sf_dir):
    """profile runs the query's own plan: the root's numOutputRows is the
    query's row count, and every scan read rows."""
    doc = profile(spark, "q_tpch_q6", sf_dir)
    nodes = doc["nodes"]
    expected = all_specs()["q_tpch_q6"].fn(spark, sf_dir).count()
    assert nodes[0]["depth"] == 0
    assert nodes[0]["metrics"]["numOutputRows"] == expected
    scans = [n for n in nodes if n["name"] == "FileSourceScanExec"]
    assert scans
    assert all(n["metrics"]["numOutputRows"] > 0 for n in scans), scans


def test_profile_reports_builds_run_inside_the_query(spark, sf_dir):
    """q_graph_triangles persists its pair list afresh, so the MinHash
    pipeline runs inside the query: profile lists it under ``builds``
    with the pair count it wrote. A second run reads the built relation
    and builds nothing."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.caches import (
        release_transients,
    )

    release_transients()
    doc = profile(spark, "q_graph_triangles", sf_dir)
    assert doc["builds"], "the pair list's build is not reported"
    pairs = all_specs()["q_dedup_minhash"].fn(spark, sf_dir).count()
    assert doc["builds"][0][0]["metrics"]["numOutputRows"] == pairs
    assert profile(spark, "q_graph_triangles", sf_dir)["builds"] == []
