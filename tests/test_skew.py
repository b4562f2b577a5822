"""Salt-invariance: the salted join returns exactly the plain join's rows
(same multiset), for inner and left joins, at any salt count."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.caches import (
    release_family,
)
from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.catalog import (
    table,
)
from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.joins import (
    salted_join,
)


@pytest.mark.parametrize("num_salts", [1, 4, 16])
@pytest.mark.parametrize("how", ["inner", "left"])
def test_salted_join_equals_plain_join(spark, sf_dir, num_salts, how):
    orders = table(spark, sf_dir, "orders").withColumnRenamed(
        "o_custkey", "c_custkey"
    )
    customer = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    plain = orders.join(customer, "c_custkey", how)
    salted = salted_join(orders, customer, "c_custkey", num_salts, how)
    assert salted.count() == plain.count()
    # multiset equality via per-row hash aggregation
    def digest(df):
        cols = sorted(df.columns)
        return (
            df.select(F.xxhash64(*cols).alias("h"))
            .agg(
                F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
                F.count("*").alias("n"),
                F.min("h").alias("lo"),
                F.max("h").alias("hi"),
            )
            .collect()[0]
        )
    assert digest(salted) == digest(plain)


@pytest.fixture(scope="module")
def hot_shingle_sf_dir(spark, tmp_path_factory):
    """A corpus with PLANTED hot shingles: 80 docs share an identical
    10-token boilerplate sentence (shingle df ≈ 82 > JACCARD_DF_CAP=64)
    plus unique tails; one true near-dup pair shares only RARE shingles;
    one boilerplate-only identical pair shares only HOT shingles."""
    boiler = " ".join(f"b{j}" for j in range(10))
    rows = []
    for i in range(80):
        uniq = " ".join(f"d{i}w{j}" for j in range(40))
        rows.append((i, boiler + " " + uniq, "en", "web", 0))
    rare = " ".join(f"r{j}" for j in range(50))
    rows.append((900, rare + " tailx", "en", "web", 0))
    rows.append((901, rare + " taily", "en", "web", 0))
    rows.append((910, boiler, "en", "web", 0))
    rows.append((911, boiler, "en", "web", 0))
    d = tmp_path_factory.mktemp("hot_shingles")
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(2).write.parquet(str(d / "documents.parquet"))
    return str(d)


def test_df_cap_keeps_rare_shingle_pairs_exact(spark, hot_shingle_sf_dir):
    """The df-capped index still finds pairs that share any sub-cap
    shingle, and their Jaccard stays EXACT (full-set verification)."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.dedup import (
        q_dedup_ngram_jaccard,
    )

    pairs = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in q_dedup_ngram_jaccard(spark, hot_shingle_sf_dir).collect()
    }
    assert (900, 901) in pairs, "rare-shingle near-dup pair lost"
    # 49 shingles each, 48 shared (last shingle differs with the tail
    # token): jaccard = 48/50
    assert abs(pairs[(900, 901)] - 48 / 50) < 1e-6


def test_df_cap_engages_on_hot_only_pairs(spark, hot_shingle_sf_dir):
    """The documented recall trade: a pair whose EVERY shared shingle is
    corpus-hot (identical boilerplate-only docs) is not emitted — this is
    what bounds per-shingle fan-out to cap² at 100 TB."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.dedup import (
        q_dedup_ngram_jaccard,
    )

    pairs = {
        (r.doc_id_a, r.doc_id_b)
        for r in q_dedup_ngram_jaccard(spark, hot_shingle_sf_dir).collect()
    }
    assert (910, 911) not in pairs
    # and no boilerplate-driven candidate explosion among the 80 docs
    assert not any(a < 900 and b < 900 for a, b in pairs)


@pytest.fixture(scope="module")
def hot_band_sf_dir(spark, tmp_path_factory):
    """Degenerate corpora for the LSH tiers (round-6 adversarial-skew
    item): 10% of documents are IDENTICAL (every MinHash band key for
    them collides — one band bucket captures 10% of the corpus) and 10%
    of embeddings are IDENTICAL (every RHP band code collides). The
    rest are unique. The tier must emit the hot clique's pairs exactly
    once (not once per band) and produce near-zero background
    candidates."""
    import math

    d = tmp_path_factory.mktemp("hot_bands")
    n_docs, n_hot = 300, 30
    boiler = " ".join(f"hotword{j}" for j in range(30))
    rows = []
    for i in range(n_hot):
        rows.append((i, boiler, "en", "web", len(boiler)))
    for i in range(n_hot, n_docs):
        uniq = " ".join(f"u{i}w{j}" for j in range(30))
        rows.append((i, uniq, "en", "web", len(uniq)))
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(2).write.parquet(str(d / "documents.parquet"))

    n_vec, n_hot_vec, dim = 300, 30, 64
    hot = [math.sin(7 * j + 1) for j in range(dim)]

    import random

    rng = random.Random(20260814)  # seeded: reproducible fixture
    vecs = []
    for i in range(n_hot_vec):
        vecs.append((i, [float(x) for x in hot], 0))
    for i in range(n_hot_vec, n_vec):
        vecs.append(
            (i, [float(rng.uniform(-1.0, 1.0)) for _ in range(dim)], 1)
        )
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label int"
    ).coalesce(2).write.parquet(str(d / "embeddings.parquet"))
    return str(d), n_hot, n_hot_vec


def test_minhash_band_skew_candidate_bound(spark, hot_band_sf_dir):
    """One MinHash band bucket holding 10% of docs: candidates must be
    EXACTLY the hot clique C(30,2) — the distinct() collapses the
    4-band multiplicity, and unique docs contribute nothing."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.dedup import (
        _hashed_shingle_sets,
        lsh_candidates,
        q_dedup_minhash,
    )

    sf_dir, n_hot, _ = hot_band_sf_dir
    release_family("dedup_shingle_hashsets")
    try:
        cands = lsh_candidates(_hashed_shingle_sets(spark, sf_dir)).collect()
        hot_clique = n_hot * (n_hot - 1) // 2
        in_hot = [
            (r.doc_id_a, r.doc_id_b)
            for r in cands
            if r.doc_id_a < n_hot and r.doc_id_b < n_hot
        ]
        assert len(in_hot) == hot_clique  # exactly once, not x NUM_BANDS
        # background: unique docs share no shingles; any stray band
        # collision stays negligible (pinned at < 1% of the clique)
        assert len(cands) - hot_clique <= hot_clique // 100
        # and the verified output emits the full identical clique
        pairs = {
            (r.doc_id_a, r.doc_id_b)
            for r in q_dedup_minhash(spark, sf_dir).collect()
        }
        assert {p for p in pairs if p[0] < n_hot} == set(in_hot)
    finally:
        release_family("dedup_shingle_hashsets")


def test_rhp_band_skew_candidate_bound(spark, hot_band_sf_dir):
    """One RHP band code holding 10% of embeddings: candidate pairs are
    the hot clique exactly once plus a bounded random-collision
    background — the distinct() collapses the 8-band multiplicity."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.similarity import (
        _rhp_candidate_pairs,
    )

    sf_dir, _, n_hot = hot_band_sf_dir
    release_family("rhp_sketches")
    try:
        cands = [
            (r.vec_id_a, r.vec_id_b)
            for r in _rhp_candidate_pairs(spark, sf_dir).collect()
        ]
        hot_clique = n_hot * (n_hot - 1) // 2
        in_hot = [p for p in cands if p[0] < n_hot and p[1] < n_hot]
        assert len(in_hot) == hot_clique
        assert len(set(cands)) == len(cands)  # distinct really distinct
        # RHP with 8 bands of 6 bits is a COARSE filter: fair
        # independent sign bits would collide on >=1 band with prob
        # 1-(1-2^-6)^8 ~ 11.8%; the deterministic LCG planes carry
        # enough bit correlation that the measured rate on seeded
        # iid-uniform vectors is ~27%. Pin at 40% of all-pairs:
        # catastrophic regressions (losing the distinct() -> ~8x
        # multiplicity, or a band collapsing to one code -> all-pairs)
        # overshoot it immediately, while the documented coarse rate
        # passes with margin.
        n_vec = 300
        all_pairs = n_vec * (n_vec - 1) // 2
        assert len(cands) <= int(0.40 * all_pairs), len(cands)
    finally:
        release_family("rhp_sketches")
