"""Exactness tests for the multimodal mapInPandas path (its decode stub is
Python-side, so the DuckDB oracle can't check it — SURVEY.md §5.1 note)."""

from __future__ import annotations

from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.multimodal import (
    _fake_decode,
    q_multimodal_features,
    q_multimodal_meta,
)
from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.plans.profile import (
    plan_nodes,
)


def test_features_match_local_decode(spark, sf_dir):
    feats = {
        r["doc_id"]: r
        for r in q_multimodal_features(spark, sf_dir).collect()
    }
    import duckdb

    texts = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    assert len(feats) == len(texts)
    for doc_id, text in texts[:50]:
        expected = _fake_decode(text.encode("utf-8"))
        row = feats[doc_id]
        assert row["n_bytes"] == expected["n_bytes"]
        assert row["checksum"] == expected["checksum"]
        assert row["head_hex"] == expected["head_hex"]
        assert row["modality"] == "text-bytes"


def test_meta_prunes_payload(spark, sf_dir):
    """Metadata query must not carry the binary payload through the plan."""
    nodes = plan_nodes(q_multimodal_meta(spark, sf_dir), builds=True)
    assert not [n.string for n in nodes if "payload" in n.string]
