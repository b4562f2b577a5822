"""Semantic invariants for the round-3 corpus operators (beyond the
oracle-parity hash checks, which only prove Spark == DuckDB):

- Bloom filter: NO false negatives — every probe shingle that truly
  exists in the reference half must be counted as seen;
- count-min sketch: estimates NEVER underestimate (the sketch's defining
  one-sided error), and equal the exact count when no depth collides;
- KMV: the estimate is positive and within a loose multiplicative bound
  of the truth for k=64 (the theoretical rel-err is ~1/sqrt(k-1)≈0.13;
  we assert a generous 3x margin to stay flake-free at tiny SF);
- global shuffle: every shard is exactly SHARD_SIZE docs except the last,
  shard ids are contiguous from 0, and doc counts total the corpus;
- weighted mix: per-source selections equal min(quota, available) and
  the selected total never exceeds the epoch budget.
"""

from __future__ import annotations

from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators import (
    corpus,
)


def test_bloom_no_false_negatives(spark, sf_dir, duck):
    """Every odd-doc shingle that literally occurs in an even doc must be
    flagged seen: per-doc n_seen >= the true containment count."""
    truth = duck.execute(
        """
        WITH base AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), w -> w <> '') AS toks
            FROM documents
        ), sh AS (
            SELECT doc_id,
                   UNNEST(list_distinct(CASE WHEN len(toks) >= 3 THEN
                       list_transform(range(1, len(toks) - 1),
                           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                       ELSE [] END)) AS s
            FROM base
        )
        SELECT a.doc_id, COUNT(*) AS true_seen
        FROM (SELECT DISTINCT doc_id, s FROM sh WHERE doc_id % 2 = 1) a
        JOIN (SELECT DISTINCT s FROM sh WHERE doc_id % 2 = 0) b USING (s)
        GROUP BY 1
        """
    ).fetchall()
    true_seen = dict(truth)
    got = {
        r["doc_id"]: r["n_seen"]
        for r in corpus.q_dedup_bloom_shingles(spark, sf_dir).collect()
    }
    assert got, "bloom query returned no rows"
    for doc_id, t in true_seen.items():
        assert got[doc_id] >= t, (
            f"doc {doc_id}: bloom saw {got[doc_id]} < true containment {t}"
        )


def test_countmin_never_underestimates(spark, sf_dir):
    rows = corpus.q_sketch_countmin(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["cm_estimate"] >= r["exact_cnt"], (
            f"{r['event_type']}: CM {r['cm_estimate']} < exact {r['exact_cnt']}"
        )
        assert r["over_ratio"] >= 1.0


def test_kmv_estimate_in_bounds(spark, sf_dir):
    row = corpus.q_sketch_kmv_distinct(spark, sf_dir).collect()[0]
    assert row["exact_distinct"] > 0
    assert row["kmv_estimate"] > 0
    # generous 3x the ~1/sqrt(k-1) standard error (k=64 -> ~0.13)
    assert row["rel_err"] <= 0.40, row


def test_shuffle_shards_exact_sizes(spark, sf_dir):
    rows = corpus.q_corpus_shuffle_shards(spark, sf_dir).collect()
    by_shard = {r["shard_id"]: r["n_docs"] for r in rows}
    n_docs = sum(by_shard.values())
    assert sorted(by_shard) == list(range(len(by_shard)))
    full, last = divmod(n_docs, corpus.SHARD_SIZE)
    for sid, cnt in by_shard.items():
        if sid < full:
            assert cnt == corpus.SHARD_SIZE, (sid, cnt)
        else:
            assert cnt == last, (sid, cnt)


def test_mix_selection_respects_quota(spark, sf_dir):
    rows = corpus.q_corpus_mix_weighted(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_selected"] == min(r["quota"], r["n_available"]), r
    assert sum(r["n_selected"] for r in rows) <= corpus.MIX_EPOCH


def test_mix_is_deterministic(spark, sf_dir):
    a = {
        (r["source"]): (r["n_selected"], r["sel_chars"])
        for r in corpus.q_corpus_mix_weighted(spark, sf_dir).collect()
    }
    b = {
        (r["source"]): (r["n_selected"], r["sel_chars"])
        for r in corpus.q_corpus_mix_weighted(spark, sf_dir).collect()
    }
    assert a == b


def test_passage_dedup_counts_consistent(spark, sf_dir):
    rows = corpus.q_corpus_passage_dedup(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_dup_passages"] <= r["n_passages"], r
        assert abs(
            r["dup_ratio"] - round(r["n_dup_passages"] / r["n_passages"], 6)
        ) < 1e-9


def test_zorder_files_bound_both_dims(spark, sf_dir):
    """Each 8-bit z-prefix file spans at most 16 consecutive values of
    EACH dimension — the property that makes 2-D min/max file skipping
    work (a 1-D sort bounds only its leading column)."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators import (
        layout,
    )

    rows = layout.q_layout_zorder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["max_ub"] - r["min_ub"] <= 15, r
        assert r["max_mb"] - r["min_mb"] <= 15, r


def test_winnowing_recovers_exact_tier_pairs(spark, sf_dir):
    """Winnowing's guarantee: a shared run of w+k-1 tokens leaves a
    common selected fingerprint — so the near-dup pairs the exact
    Jaccard tier finds (long shared spans by construction) must all
    surface in the winnowing pair list."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators import (
        dedup,
    )

    exact = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in dedup.q_dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    winnow = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.q_dedup_winnowing(spark, sf_dir).collect()
    }
    assert exact, "exact tier found no pairs — fixture changed?"
    missed = exact - winnow
    assert not missed, f"winnowing missed exact-tier pairs: {missed}"
