"""Session-cache hygiene: every engine-owned persist has a release path.

Round-6 audit item: the engine memoizes expensive intermediates per
session (shingle hash sets, BPE trainings, IVF assignments, RHP
sketches, growth cells) and persists loop state inside iterative
operators. This suite pins that (a) the central registry enumerates a
release function per family, and (b) running the ENTIRE headline set
then clearing leaves zero net persisted RDDs — no leak survives.
"""

from __future__ import annotations

import time

from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.caches import (
    SESSION_CACHE_CLEARERS,
    clear_all_session_caches,
    persisted_rdd_count,
)


def test_registry_covers_every_cache_family():
    names = set(SESSION_CACHE_CLEARERS())
    assert names == {
        "dedup_shingle_hashsets",
        "dedup_tier_pair_lists",
        "bpe_trainings",
        "growth_activity_cells",
        "ivf_assignments",
        "rhp_sketches",
        "iterative_transients",
        # round-10 optimization: reader-plan memo (no persisted blocks —
        # holds unresolved scan plans only, cleared for ref hygiene)
        "table_reader_plans",
        # round-11 optimization: audience bitmap-word table (the
        # round-10 parked cache, confirmed at the 100x events fixture)
        "audience_bitmap_words",
    }


def _settled_count(spark, target: int, tries: int = 5) -> int:
    """Persisted-RDD count after letting the ContextCleaner catch up
    (localCheckpoint blocks release on JVM GC of the RDD handle)."""
    import gc

    n = persisted_rdd_count(spark)
    for _ in range(tries):
        if n <= target:
            return n
        # release the py4j handles first (Python GC), then let the JVM
        # collect the RDD objects so the ContextCleaner unpersists them
        gc.collect()
        spark.sparkContext._jvm.System.gc()  # noqa: SLF001
        time.sleep(1.0)
        n = persisted_rdd_count(spark)
    return n


def test_headline_set_leaks_no_persisted_rdds(spark, sf_dir):
    """Run every headline query on a clean cache state, clear, and
    assert the JVM tracks no MORE persisted RDDs than before the run
    (JVM-global count, so diff against the baseline rather than
    expecting zero in a shared test session)."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.plans.registry import (
        headline_specs,
    )

    clear_all_session_caches()
    base = _settled_count(spark, 0)
    for spec in headline_specs().values():
        spec.fn(spark, sf_dir).count()
    assert persisted_rdd_count(spark) >= base  # the memos really persist
    clear_all_session_caches()
    assert _settled_count(spark, base) <= base


def test_iterative_operators_release_their_loop_state(spark, sf_dir):
    """The iterative family (clusters / pagerank / triangles / data-edge
    hierarchy) parks per-query persists in the transient registry; a
    clear releases them all."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.dedup import (
        q_dedup_clusters,
    )
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.graph import (
        q_hierarchy_data_edges,
        q_pagerank_neardup,
    )

    clear_all_session_caches()
    base = _settled_count(spark, 0)
    q_dedup_clusters(spark, sf_dir).count()
    q_pagerank_neardup(spark, sf_dir).count()
    q_hierarchy_data_edges(spark, sf_dir).count()
    clear_all_session_caches()
    assert _settled_count(spark, base) <= base


def test_pair_cache_owns_its_checkpoints(spark, sf_dir):
    """clear_pair_cache alone must release the pair-list checkpoint
    blocks AND leave the family rebuildable — handles and blocks are
    owned by one clearer, with no ordering dependency on
    iterative_transients (round-6 ADVICE: the old routing freed blocks
    while _PAIR_CACHE still held unreadable handles)."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.dedup import (
        q_dedup_tier_recall,
        q_minhash_band_sensitivity,
    )

    clear_pair_cache = SESSION_CACHE_CLEARERS()["dedup_tier_pair_lists"]
    clear_all_session_caches()
    base = _settled_count(spark, 0)
    q_dedup_tier_recall(spark, sf_dir).count()
    assert persisted_rdd_count(spark) > base
    clear_pair_cache()  # deliberately NOT release_transients
    # the shingle-hashset family (built by the underlying tiers) is a
    # DIFFERENT family and stays persisted; pin the pair family's own
    # level instead: release → rebuild → release returns to the same
    # count (blocks freed each time, no accumulation)
    hashset_level = _settled_count(spark, base)
    # rebuild after clear works (fresh checkpoints, not dead handles)
    assert q_dedup_tier_recall(spark, sf_dir).count() == 1
    assert persisted_rdd_count(spark) > hashset_level
    clear_pair_cache()
    assert _settled_count(spark, hashset_level) <= hashset_level
    # repeated band-sensitivity calls reuse the memoized candidate
    # checkpoints instead of accumulating one pair per invocation
    q_minhash_band_sensitivity(spark, sf_dir).count()
    level = persisted_rdd_count(spark)
    q_minhash_band_sensitivity(spark, sf_dir).count()
    assert persisted_rdd_count(spark) <= level
    clear_all_session_caches()
    assert _settled_count(spark, base) <= base
