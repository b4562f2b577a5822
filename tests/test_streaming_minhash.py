"""MinHash LSH candidates: the banded join over a (doc_id, sig) signature
table must cover every verified near-dup pair of the end-to-end batch
tier (candidates ⊇ verified pairs by construction)."""

from __future__ import annotations

from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.dedup import (
    _hashed_shingle_sets,
    lsh_candidates,
    q_dedup_minhash,
)


def test_streamed_candidates_cover_batch_pairs(spark, sf_dir):
    # The distinct LSH candidate generator run over the signature table
    # must generate every candidate that q_dedup_minhash verifies into a
    # near-dup pair.
    sigs = _hashed_shingle_sets(spark, sf_dir).select("doc_id", "sig")
    cands = {
        (r["doc_id_a"], r["doc_id_b"]) for r in lsh_candidates(sigs).collect()
    }
    verified = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in q_dedup_minhash(spark, sf_dir).collect()
    }
    assert len(verified) > 0
    assert verified <= cands
