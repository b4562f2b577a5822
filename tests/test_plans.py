"""Physical-plan regression tests: the plan SHAPE is the 100 TB design
(SURVEY.md §4) — these pin the properties a scale-up depends on, so a
refactor that silently de-broadcasts a dim, drops a pushed filter, or
turns a top-k into a global sort fails fast.

Every assertion reads the physical plan through
``plans.profile.plan_nodes``: it counts nodes by operator class, and
checks a detail (a join type, a pushed filter, a file path) on the
one-line string of the node it belongs to. ``_nodes`` gives the live
nodes followed by the stored build plan of every cached relation the
query reads (a fresh ``persist()`` builds inside the query, and a memo
built earlier ran that plan once), so a "never a cartesian" check also
covers the builds. ``_live`` gives the live nodes only, for checks on
what a query runs once its caches are built.
"""

from __future__ import annotations

import itertools

import pytest

from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.plans.profile import (
    plan_nodes,
)
from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.plans.registry import (
    all_specs,
)

SPECS = all_specs()

BHJ, SMJ, SHJ = "BroadcastHashJoinExec", "SortMergeJoinExec", "ShuffledHashJoinExec"
BNLJ, CARTESIAN = "BroadcastNestedLoopJoinExec", "CartesianProductExec"
JOINS = (BHJ, SMJ, SHJ, BNLJ, CARTESIAN)
EXCHANGES = ("ShuffleExchangeExec", "BroadcastExchangeExec", "ReusedExchangeExec")
SCAN = "FileSourceScanExec"
TOP_K = "TakeOrderedAndProjectExec"


def _nodes(spark, sf_dir, name: str):
    """The live nodes of query ``name``, then the stored build plans of
    the cached relations it reads."""
    return plan_nodes(SPECS[name].fn(spark, sf_dir), builds=True)


def _live(spark, sf_dir, name: str):
    """The live nodes of query ``name`` only: a cached relation that is
    already built does not run its build plan again."""
    return plan_nodes(SPECS[name].fn(spark, sf_dir))


def _count(nodes, *names: str) -> int:
    """How many live nodes are of the given operator classes."""
    return sum(n.name in names for n in nodes)


def _strings(nodes, *names: str) -> list[str]:
    """The one-line strings of the live nodes of the given classes."""
    return [n.string for n in nodes if n.name in names]


def _hash_exchanges(nodes) -> list[str]:
    return [
        s for s in _strings(nodes, "ShuffleExchangeExec")
        if s.startswith("Exchange hashpartitioning(")
    ]


def _below(nodes, i: int):
    """The nodes of the subtree under ``nodes[i]``."""
    return itertools.takewhile(
        lambda n: n.depth > nodes[i].depth, nodes[i + 1:]
    )


def test_q6_filters_push_to_scan(spark, sf_dir):
    """Q6's predicates reach the parquet reader (PushedFilters) and the
    scan projects only the referenced columns."""
    scan = _strings(_nodes(spark, sf_dir, "q_tpch_q6"), SCAN)[0]
    assert "PushedFilters: [" in scan
    assert "IsNotNull(l_shipdate)" in scan or "GreaterThanOrEqual(l_shipdate" in scan
    # column pruning: the wide lineitem table scans only what Q6 touches
    assert "l_returnflag" not in scan


def test_q3_topk_avoids_global_sort(spark, sf_dir):
    """Top-10 by revenue plans as TakeOrderedAndProject — k rows per
    partition reach the driver, never a full sort."""
    nodes = _nodes(spark, sf_dir, "q_tpch_q3")
    assert _count(nodes, TOP_K)


def test_star_join_broadcasts_dims(spark, sf_dir):
    """The star join's dimension sides broadcast (no shuffle of the fact
    for dim joins)."""
    nodes = _nodes(spark, sf_dir, "q_join_star")
    assert _count(nodes, BHJ) >= 3
    assert not _count(nodes, SMJ)


def test_q8_single_aggregate_exchange(spark, sf_dir):
    """The 8-way join streams lineitem through broadcasts; the only
    hash-partitioned exchange above the joins is the final groupBy."""
    nodes = _nodes(spark, sf_dir, "q_tpch_q8")
    agg_exchanges = [
        s for s in _hash_exchanges(nodes) if "_groupingexpression" in s
    ]
    assert len(agg_exchanges) == 1
    assert _count(nodes, BHJ) >= 5


def test_q21_decorrelates_to_semi_and_anti(spark, sf_dir):
    """EXISTS -> LeftSemi, NOT EXISTS -> LeftAnti; no nested-loop join
    anywhere in the double-correlated plan."""
    nodes = _nodes(spark, sf_dir, "q_tpch_q21")
    joins = _strings(nodes, *JOINS)
    assert any("LeftSemi" in s for s in joins)
    assert any("LeftAnti" in s for s in joins)
    assert not _count(nodes, BNLJ)


def test_q18_semi_join_after_preaggregate(spark, sf_dir):
    """The HAVING-subquery keys a semi join against the pre-aggregated
    order quantities (the fact is aggregated once, not re-scanned)."""
    joins = _strings(_nodes(spark, sf_dir, "q_tpch_q18"), *JOINS)
    assert any("LeftSemi" in s for s in joins)


def test_ohlc_is_single_aggregate_no_window_sort(spark, sf_dir):
    """min_by/max_by candles need no Window node (no per-key row
    materialization) — one partial+final aggregate; struct-keyed min_by
    plans as SortAggregate (sorts only the aggregation buffers)."""
    nodes = _nodes(spark, sf_dir, "q_minute_ohlc")
    assert not _count(nodes, "WindowExec")
    assert _count(nodes, "SortAggregateExec", "HashAggregateExec")


def test_chunking_plan_has_no_shuffle(spark, sf_dir):
    """Document chunking (explode) pipelines inside the scan stage —
    zero exchanges."""
    nodes = _nodes(spark, sf_dir, "q_text_chunking")
    assert not _count(nodes, *EXCHANGES)
    assert any(
        s.startswith("Generate explode") for s in _strings(nodes, "GenerateExec")
    )


def test_latest_per_key_single_shuffle(spark, sf_dir):
    """CDC compaction: exactly one hash exchange (the key), one sort for
    the window."""
    nodes = _nodes(spark, sf_dir, "q_latest_per_key")
    assert len(_hash_exchanges(nodes)) == 1


def test_merge_upsert_no_extra_exchange_after_compaction(spark, sf_dir):
    """Both compactions and the full-outer merge share the key
    partitioning: 2 exchanges total (one per side), none for the join."""
    nodes = _nodes(spark, sf_dir, "q_merge_upsert")
    assert len(_hash_exchanges(nodes)) == 2
    assert any("FullOuter" in s for s in _strings(nodes, SMJ))


def test_anomaly_moments_window_no_join(spark, sf_dir):
    """q_events_anomaly: the per-type moments are one window
    over the minute counts — no join back of any strategy, exactly one
    fact scan in the plan."""
    nodes = _nodes(spark, sf_dir, "q_events_anomaly")
    assert not _count(nodes, SMJ, BHJ, SHJ, CARTESIAN)
    assert _count(nodes, SCAN) == 1
    assert _count(nodes, "WindowExec") == 1


def test_quantize_broadcasts_stats_row(spark, sf_dir):
    """q_embedding_quantize's per-dim min/max ride a broadcast 1-row
    frame — no SortMergeJoin, no CartesianProduct over data-sized
    inputs."""
    nodes = _nodes(spark, sf_dir, "q_embedding_quantize")
    assert _count(nodes, BNLJ, BHJ)
    assert not _count(nodes, CARTESIAN, SMJ)


def test_containment_join_is_bucketed_not_nested_loop(spark, sf_dir):
    """q_dedup_containment's candidate generation is the banded equi-join
    — never a nested-loop/cartesian all-pairs plan. The shared shingle
    cache is materialized first (the steady state: the index is built
    once per session); its build plan holds one single-row broadcast
    cross (the df-cap hot-shingle list), which the walk does not enter
    because it never runs again."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.dedup import (
        _hashed_shingle_sets,
    )

    _hashed_shingle_sets(spark, sf_dir).count()
    nodes = _live(spark, sf_dir, "q_dedup_containment")
    # the live plan contains the banded candidate join
    assert any("band" in s for s in _strings(nodes, *JOINS))
    assert not _count(nodes, CARTESIAN, BNLJ)


def test_decayed_counts_single_aggregate(spark, sf_dir):
    """q_decayed_counts folds decay weighting into the one count
    aggregation — exactly one shuffle of the events table."""
    nodes = _nodes(spark, sf_dir, "q_decayed_counts")
    # aggregate exchanges: one partial+final pair for the groupBy; the
    # 1-row max-ts anchor contributes no Exchange over the fact table
    assert len(_hash_exchanges(nodes)) == 1, [n.string for n in nodes]


def test_pii_redact_no_shuffle(spark, sf_dir):
    """q_text_pii_redact is a pure per-row projection — no Exchange at
    all."""
    nodes = _nodes(spark, sf_dir, "q_text_pii_redact")
    assert not _count(nodes, *EXCHANGES)


def test_training_corpus_pipeline_broadcasts_doc_joins(spark, sf_dir):
    """The corpus-prep composite joins cluster/keeper tables by broadcast
    — the fact-table scan is never shuffled for the enrichment joins."""
    nodes = _nodes(spark, sf_dir, "q_pipeline_training_corpus")
    assert _count(nodes, BHJ)
    assert not _count(nodes, CARTESIAN)


@pytest.mark.parametrize(
    "name",
    [
        "q_weighted_sample",
        "q_stratified_sample",
        "q_topk_per_minute",
        "q_quality_stratified_sample",
    ],
)
def test_rank_filters_get_window_group_limit(spark, sf_dir, name):
    """Every rank-filtered top-k gets Spark's WindowGroupLimit pushdown:
    the per-partition sort keeps only the top K rows instead of sorting
    the whole partition — the property that makes window-based sampling
    viable on skewed 100 TB strata."""
    nodes = _nodes(spark, sf_dir, name)
    assert _count(nodes, "WindowGroupLimitExec")


def test_runtime_bloom_filter_prunes_shuffle_join(spark, sf_dir):
    """With broadcast off (the 100 TB shape where the dim outgrows the
    broadcast ceiling), Spark injects a runtime bloom filter built from
    the filtered dim side into the fact scan — rows that can't join are
    dropped before the shuffle. Pinned here so the engine's config
    surface keeps the optimization reachable."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.catalog import (
        table,
    )
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = table(spark, sf_dir, "lineitem")
        orders = table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("l_returnflag")
            .count()
        )
        # the filter's bloom-filter subquery aggregates the dim keys
        assert any(
            "bloom_filter_agg" in n.string or "BloomFilter" in n.string
            for n in plan_nodes(j)
        )
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q5_all_dims_broadcast_no_smj(spark, sf_dir):
    """Q5's 5-way star join broadcasts every dim — the fact table is
    never sort-merge-shuffled for a join."""
    nodes = _nodes(spark, sf_dir, "q_tpch_q5")
    assert _count(nodes, BHJ) >= 4
    assert not _count(nodes, SMJ)


def test_q19_or_predicates_push_to_scan(spark, sf_dir):
    """Q19's OR-of-ANDs quantity bands reach the lineitem scan as data
    filters — the scan prunes before the join instead of shipping every
    row."""
    scans = [
        s for s in _strings(_nodes(spark, sf_dir, "q_tpch_q19"), SCAN)
        if "l_quantity" in s
    ]
    assert any(
        "DataFilters" in s and "l_quantity" in s.split("DataFilters", 1)[1]
        for s in scans
    ), "quantity bands not pushed to the lineitem scan"


def test_aqe_coalesces_small_shuffle(spark, sf_dir):
    """AQE folds the configured 8/32 shuffle partitions down to the few
    the data actually needs — the final adaptive plan has an
    AQEShuffleRead with coalesced partitions after execution."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.catalog import (
        table,
    )
    from pyspark.sql import functions as F

    df = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    df.collect()  # adaptive plan finalizes on execution
    nodes = plan_nodes(df)
    reads = _strings(nodes, "AQEShuffleReadExec")
    assert reads, [n.string for n in nodes]
    assert any("coalesced" in s for s in reads), reads


def test_bloom_bits_join_broadcasts(spark, sf_dir):
    """The Bloom bit-set relation (bounded by m rows regardless of corpus
    size) must broadcast — the probe stream is never shuffled."""
    nodes = _nodes(spark, sf_dir, "q_dedup_bloom_shingles")
    assert _count(nodes, BHJ)


def test_countmin_probe_joins_broadcast_grid(spark, sf_dir):
    """The ≤ depth×width cell grid broadcasts into the probe side."""
    nodes = _nodes(spark, sf_dir, "q_sketch_countmin")
    assert _count(nodes, BHJ)
    assert not _count(nodes, SMJ)


def test_unigram_vocab_broadcasts(spark, sf_dir):
    """The vocab joins the token stream as a broadcast — a word-keyed
    shuffle join would Zipf-skew on stopwords."""
    nodes = _nodes(spark, sf_dir, "q_corpus_unigram_logprob")
    assert _count(nodes, BHJ)


def test_kmv_is_take_ordered_not_global_sort(spark, sf_dir):
    """The k-minimum-values pass plans as TakeOrderedAndProject: each
    task keeps a local top-k, never a full sort of the hash column."""
    nodes = _nodes(spark, sf_dir, "q_sketch_kmv_distinct")
    assert _count(nodes, TOP_K)


def test_zorder_single_aggregate_exchange(spark, sf_dir):
    """The Morton key is per-row arithmetic: the only exchange in the
    whole plan is the final file_id rollup."""
    exchanges = _hash_exchanges(_nodes(spark, sf_dir, "q_layout_zorder"))
    assert len(exchanges) == 1, exchanges


def test_scd2_single_window_pass(spark, sf_dir):
    """row_number and lead evaluate in ONE Window operator over one
    key-partitioned exchange — no self-join, no second sort."""
    nodes = _nodes(spark, sf_dir, "q_scd2_history")
    windows = _strings(nodes, "WindowExec")
    assert len(windows) == 1, windows
    assert not _count(nodes, SMJ)


def test_shuffle_shards_offsets_broadcast(spark, sf_dir):
    """The prefix-summed bucket offsets (SHUFFLE_BUCKETS rows) broadcast
    back onto the data — the corpus itself is never globally sorted."""
    nodes = _nodes(spark, sf_dir, "q_corpus_shuffle_shards")
    assert _count(nodes, BHJ)


def test_q9_partsupp_join_fused_away(spark, sf_dir):
    """Q9's partsupp join is fused into a lineitem predicate + inline
    projection: the plan must contain NO Generate (the 4-way partsupp
    explode) and only the final groupBy exchange — while the derived
    dimension itself (q_partsupp_derived) does explode."""
    nodes = _nodes(spark, sf_dir, "q_tpch_q9")
    assert not _count(nodes, "GenerateExec")
    exchanges = _hash_exchanges(nodes)
    assert len(exchanges) <= 2, exchanges  # groupBy (+ orders join at scale)
    derived = _nodes(spark, sf_dir, "q_partsupp_derived")
    assert _count(derived, "GenerateExec")


def test_q2_decorrelates_to_single_window(spark, sf_dir):
    """The correlated MIN subquery runs as ONE window over ps_partkey —
    not a second scan+join of partsupp."""
    nodes = _nodes(spark, sf_dir, "q_tpch_q2")
    windows = [s for s in _strings(nodes, "WindowExec") if "min(" in s]
    assert len(windows) == 1, windows
    assert not _count(nodes, SMJ)


def test_q16_anti_join_broadcasts(spark, sf_dir):
    """Excluded suppliers apply as a broadcast LEFT ANTI join, never a
    NOT IN nested loop."""
    nodes = _nodes(spark, sf_dir, "q_tpch_q16")
    assert any("LeftAnti" in s for s in _strings(nodes, *JOINS))
    assert not any("LeftAnti" in s for s in _strings(nodes, BNLJ))


def test_q20_semi_joins_broadcast(spark, sf_dir):
    """The qualifying-supplier set semi-joins into the region-filtered
    supplier dim; the bolt-part prefilter broadcasts into lineitem."""
    nodes = _nodes(spark, sf_dir, "q_tpch_q20")
    assert any("LeftSemi" in s for s in _strings(nodes, *JOINS))
    assert _count(nodes, BHJ)


def test_pq_adc_all_broadcast_no_shuffle_join(spark, sf_dir):
    """PQ encoding/scoring is per-row arithmetic against broadcast
    codebook + query rows: no shuffle join anywhere, top-k via
    TakeOrderedAndProject."""
    nodes = _nodes(spark, sf_dir, "q_ann_pq_adc")
    assert not _count(nodes, SMJ)
    assert _count(nodes, TOP_K)


def test_pca_power_exchanges_are_dim_sized(spark, sf_dir):
    """Each power iteration aggregates to 64 dims: every hash exchange
    in the plan groups on the dim key (or is a 1-row aggregate) — the
    data-sized relation never shuffles."""
    nodes = _nodes(spark, sf_dir, "q_embedding_pca_power")
    assert not _count(nodes, SMJ)


def test_funnel_multistep_no_nested_loop(spark, sf_dir):
    """Every funnel hop is a bucketized equi-join — no nested-loop /
    cartesian fallback anywhere in the chain."""
    nodes = _nodes(spark, sf_dir, "q_funnel_multistep")
    assert not _count(nodes, CARTESIAN, BNLJ)


def test_kmv_setops_sketches_take_ordered(spark, sf_dir):
    """All three sketches (A, B, merged union) build via TakeOrdered
    top-k — the fact table is never globally sorted."""
    nodes = _nodes(spark, sf_dir, "q_sketch_kmv_setops")
    assert _count(nodes, TOP_K) >= 3


def test_incremental_mv_merges_without_join(spark, sf_dir):
    """The MV refresh is pure aggregation algebra: partials + union +
    re-aggregate — no join anywhere in the plan."""
    nodes = _nodes(spark, sf_dir, "q_incremental_mv")
    assert not _count(nodes, *JOINS)
    assert _count(nodes, "UnionExec")


def test_seasonal_naive_self_join_is_aggregate_sized(spark, sf_dir):
    """The 24h-shift join runs over the hour-level aggregate (tiny), so
    it broadcasts — the fact table is scanned once, never joined."""
    nodes = _nodes(spark, sf_dir, "q_forecast_seasonal_naive")
    assert _count(nodes, BHJ)
    assert not _count(nodes, SMJ)


def test_triangles_all_equi_joins(spark, sf_dir):
    """Triangle enumeration is two equi-joins over the oriented edge
    list — never a cartesian, and the only nested-loop nodes are the
    upstream MinHash pipeline's 1-row scalar cross joins (Cross type);
    the persisted pair list keeps that pipeline from running 3×. The
    pipeline is the pair list's build plan, which runs inside this
    query."""
    nodes = _nodes(spark, sf_dir, "q_graph_triangles")
    assert _count(nodes, BNLJ), "MinHash pipeline not walked"
    assert not _count(nodes, CARTESIAN)
    for s in _strings(nodes, BNLJ):
        assert "Cross" in s, f"non-scalar nested loop: {s}"


def test_gopher_rules_scan_bound(spark, sf_dir):
    """Every Gopher rule is per-row array arithmetic: no join and no
    aggregation exchange anywhere — one codegen'd scan."""
    nodes = _nodes(spark, sf_dir, "q_quality_gopher_rules")
    assert not _count(nodes, *JOINS)
    assert not _hash_exchanges(nodes)


def test_running_distinct_windows_calendar_rows_only(spark, sf_dir):
    """The running-sum window runs over minute buckets (calendar-sized),
    after a user-keyed first-seen aggregation — the fact table itself is
    never window-sorted."""
    nodes = _nodes(spark, sf_dir, "q_running_distinct_users")
    # two aggregations (user first-seen, minute rollup), one window
    assert _count(nodes, "WindowExec") >= 1
    assert not _count(nodes, SMJ)


def test_ivf_pq_bucket_restricted_and_broadcast(spark, sf_dir):
    """IVF+PQ composition: the candidate set is the broadcast-semi-joined
    probe buckets, PQ scoring is per-row against broadcast codebook rows,
    and the top-k is TakeOrderedAndProject — no shuffle join, no global
    sort."""
    nodes = _nodes(spark, sf_dir, "q_ann_ivf_pq")
    assert _count(nodes, BHJ)
    assert _count(nodes, TOP_K)
    assert not _count(nodes, SMJ)


def test_bigram_lm_single_explode_partial_aggs(spark, sf_dir):
    """Bigram construction stays narrow until the scalar bigram string
    explodes once; count tables join by key (AQE handles the Zipf head).
    No cartesian anywhere."""
    nodes = _nodes(spark, sf_dir, "q_corpus_bigram_logprob")
    assert not _count(nodes, CARTESIAN)


def test_interval_overlap_is_grid_equi_join(spark, sf_dir):
    """The interval×interval join decomposes onto the hour grid: an
    equi-join on the bucket, never the naive theta/cartesian form the
    oracle runs."""
    nodes = _nodes(spark, sf_dir, "q_join_interval_overlap")
    assert not _count(nodes, CARTESIAN, BNLJ)


def test_skyline_no_self_join(spark, sf_dir):
    """The skyline uses the sort-scan decomposition: one window over
    distinct-x rows + a join back on x — never the quadratic NOT-EXISTS
    self-join of the oracle."""
    nodes = _nodes(spark, sf_dir, "q_skyline_customers")
    assert not _count(nodes, CARTESIAN, BNLJ)
    assert _count(nodes, "WindowExec") >= 1


def test_zonemap_skip_no_joins(spark, sf_dir):
    """Zone-map simulation is two aggregations + a union — any join node
    means someone re-joined the stat relations to the fact table."""
    nodes = _nodes(spark, sf_dir, "q_layout_zonemap_skip")
    assert not _count(nodes, SMJ, BHJ, CARTESIAN, BNLJ)


def test_compaction_bins_window_over_file_stats(spark, sf_dir):
    """The packing window runs over the per-file stat relation (post-agg),
    never the raw document rows, and nothing joins back to documents."""
    nodes = _nodes(spark, sf_dir, "q_layout_compaction_bins")
    assert _count(nodes, "WindowExec")
    assert not _count(nodes, SMJ, BHJ, CARTESIAN)
    # the fact table is scanned exactly once
    assert _count(nodes, SCAN) == 1


def test_resample_single_fact_pass_no_cartesian(spark, sf_dir):
    """Gap-fill reads events for the hourly agg + tiny bounds/type
    relations; the grid join must not plan as a cartesian product."""
    nodes = _nodes(spark, sf_dir, "q_resample_interpolate")
    assert not _count(nodes, CARTESIAN)
    assert _count(nodes, "WindowExec")


def test_temperature_rates_broadcast_onto_corpus(spark, sf_dir):
    """The per-source rate table broadcast-joins onto the documents scan
    — the corpus is never shuffled to be labeled with its rate."""
    nodes = _nodes(spark, sf_dir, "q_sample_temperature")
    assert _count(nodes, BHJ)
    assert not _count(nodes, SMJ)


def test_semdedup_equi_join_on_cluster(spark, sf_dir):
    """SemDeDup's pair join is an equi-join on cent_id — no cartesian
    anywhere (the only BNLJ allowed is the broadcast centroid assign)."""
    assert not _count(_nodes(spark, sf_dir, "q_dedup_semdedup"), CARTESIAN)
    # same contract for the dynamic-K production form (the headline)
    nodes = _nodes(spark, sf_dir, "q_dedup_semdedup_scaled")
    assert not _count(nodes, CARTESIAN)


def test_phash_band_equi_join_carries_verify_payload(spark, sf_dir):
    """pHash candidates come from an equi-join on (band_idx, band_val);
    the Hamming verify reuses carried band values — no THIRD scan joins
    back to documents, no cartesian. (Spark plans a self-join as two
    scans of the source — acceptable because each side projects only
    (doc_id, text→hash); a session-cached band table would cut it to
    one, as the dedup tier's shared shingle cache does.)"""
    nodes = _nodes(spark, sf_dir, "q_multimodal_phash")
    assert not _count(nodes, CARTESIAN, BNLJ)
    assert _count(nodes, SCAN) == 2


def test_dq_audit_event_checks_single_agg_fk_broadcast_anti(spark, sf_dir):
    """The four event checks fold into aggregation passes (no shuffle
    join); the FK check is a broadcast LEFT ANTI — never a sort-merge."""
    nodes = _nodes(spark, sf_dir, "q_dq_audit")
    assert not _count(nodes, SMJ)
    assert any("LeftAnti" in s for s in _strings(nodes, *JOINS))


def test_rank_suite_single_window_no_join(spark, sf_dir):
    """All five rank functions share ONE window spec — one sort, no
    joins anywhere."""
    nodes = _nodes(spark, sf_dir, "q_window_rank_suite")
    assert not _count(nodes, SMJ, BHJ, CARTESIAN)
    assert _count(nodes, "WindowExec") == 1


def test_hist_quantile_no_shuffle_joins(spark, sf_dir):
    """Histogram sketch: stats and quantile targets ride broadcast
    single-row joins; nothing sort-merges and the fact never shuffles
    for a join."""
    nodes = _nodes(spark, sf_dir, "q_sketch_hist_quantile")
    assert not _count(nodes, SMJ, CARTESIAN)


def test_bloom_pruned_join_all_broadcast(spark, sf_dir):
    """Bloom-pruned join: the bitmap and the dim both broadcast — the
    fact table is never shuffled for a join, and the only equi-join is
    the broadcast-hash verify against the filtered dim."""
    nodes = _nodes(spark, sf_dir, "q_join_bloom_pruned")
    assert not _count(nodes, SMJ)
    assert _count(nodes, BHJ)


def test_sequence_pattern_single_shuffle_no_join(spark, sf_dir):
    """Sequence building is one user-keyed aggregation; the regex is a
    projection — exactly one hash exchange, no joins, no windows."""
    nodes = _nodes(spark, sf_dir, "q_event_sequence_pattern")
    assert len(_hash_exchanges(nodes)) == 1
    assert not _count(nodes, SMJ, BHJ, "WindowExec")


def test_attribution_no_join_single_user_shuffle(spark, sf_dir):
    """Last-touch attribution composes from the per-user window (as-of
    mechanism): no join node; the two ignore-nulls last-values share one
    Window."""
    nodes = _nodes(spark, sf_dir, "q_attribution_last_touch")
    assert not _count(nodes, SMJ, BHJ, CARTESIAN)
    assert _count(nodes, "WindowExec") == 1


def test_ann_batch_queries_broadcast_bucket_join(spark, sf_dir):
    """Batched ANN: the query batch broadcasts onto the bucketed index
    join; ranking gets the WindowGroupLimit pushdown (top-k per query
    without sorting whole buckets)."""
    nodes = _nodes(spark, sf_dir, "q_ann_batch_queries")
    assert not _count(nodes, SMJ)
    assert _count(nodes, "WindowGroupLimitExec")


def test_semdedup_scaled_equi_join_on_cluster(spark, sf_dir):
    """Dynamic-K SemDeDup keeps the same plan contract as the fixed-K
    form: pair generation is an equi-join on cent_id, no cartesian."""
    nodes = _nodes(spark, sf_dir, "q_dedup_semdedup_scaled")
    assert not _count(nodes, CARTESIAN)


def test_phash_wide_same_plan_contract(spark, sf_dir):
    """The wide-band variant keeps the base pHash plan contract: band
    equi-join, carried verify, no cartesian, 2 scans (self-join)."""
    nodes = _nodes(spark, sf_dir, "q_multimodal_phash_wide")
    assert not _count(nodes, CARTESIAN, BNLJ)
    assert _count(nodes, SCAN) == 2


def test_hybrid_rrf_fuses_pool_sized_lists(spark, sf_dir):
    """Hybrid RRF: both retrieval pools plan as TakeOrderedAndProject
    (k rows per partition, never corpus sorts), so the only
    merge-join in the plan is the FullOuter fuse of the two ≤pool-row
    lists — full outer cannot broadcast in Spark, and over pool-sized
    inputs the sort is trivial by construction."""
    nodes = _nodes(spark, sf_dir, "q_hybrid_search_rrf")
    assert _count(nodes, TOP_K) >= 3  # lex pool, vec pool, fuse
    merges = _strings(nodes, SMJ)
    assert len(merges) == 1, merges
    assert "FullOuter" in merges[0]


def test_rfm_windows_over_customer_aggregate(spark, sf_dir):
    """RFM: the fact shuffles once (custkey agg); the anchor date rides
    a 1-row broadcast; the three NTILE specs run over the
    customer-sized aggregate (global windows are |customers| rows — the
    known single-partition cost of exact quartiles, not a fact sort)."""
    nodes = _nodes(spark, sf_dir, "q_customer_rfm")
    assert not _count(nodes, SMJ)
    assert _count(nodes, BNLJ, BHJ)


def test_welch_single_moments_pass_no_join(spark, sf_dir):
    """A/B readout (round 11): BOTH arms' moments fold into one
    conditional aggregation over one fact scan — no arm self-join of
    any strategy, exactly one scan in the plan."""
    nodes = _nodes(spark, sf_dir, "q_ab_test_welch")
    assert not _count(nodes, SMJ, BHJ, SHJ, CARTESIAN)
    assert _count(nodes, SCAN) == 1


def test_bitmap_distinct_two_aggs_no_joins_no_expand(spark, sf_dir):
    """Bitmap distinct: word build + popcount rollup are two hash
    aggregations and nothing else — crucially NO Expand node (the
    count-distinct rewrite this operator replaces)."""
    nodes = _nodes(spark, sf_dir, "q_bitmap_distinct")
    assert not _count(nodes, SMJ, BHJ, CARTESIAN, "ExpandExec", "WindowExec")


def test_dedup_tolerance_single_key_shuffle_no_join(spark, sf_dir):
    """Tolerance dedup audit: the lag window and the rollup ride the
    same (user, type) exchange lineage — no join nodes."""
    nodes = _nodes(spark, sf_dir, "q_event_dedup_tolerance")
    assert not _count(nodes, SMJ, BHJ, CARTESIAN)
    assert _count(nodes, "WindowExec") == 1


def test_degree_stats_aggs_only(spark, sf_dir):
    """Degree histogram: aggregations over the pair list only — the
    diagnostic must not itself join (that's what it protects against)."""
    nodes = _live(spark, sf_dir, "q_graph_degree_stats")
    assert not _count(nodes, CARTESIAN, BNLJ)


def test_rle_estimator_single_data_distinct(spark, sf_dir):
    """RLE planner: exactly one data-sized exchange (the triple
    distinct); every prefix NDV aggregates the tiny triple table; the
    row count joins as a broadcast scalar."""
    nodes = _nodes(spark, sf_dir, "q_layout_rle_estimate")
    assert not _count(nodes, SMJ, CARTESIAN)
    # one scan feeds the distinct, one the row count; no other scans
    assert _count(nodes, SCAN) == 2


def test_scd2_pit_join_no_join_single_user_shuffle(spark, sf_dir):
    """Point-in-time enrichment plans as the union as-of mechanism:
    no join node anywhere; one user-keyed exchange feeds the single
    Window that computes both last-dim-value and running version."""
    nodes = _nodes(spark, sf_dir, "q_scd2_pit_join")
    assert not _count(nodes, SMJ, BHJ, CARTESIAN)
    assert _count(nodes, "WindowExec") == 1


def test_bpe_train_chains_from_cached_vocab(spark, sf_dir):
    """BPE training: the corpus is scanned once into the persisted
    word-frequency cache; every merge iteration (and each union branch
    of the 4-row output) chains from vocab-sized persisted data — no
    live corpus scan, no sort-merge joins (argmax rows ride 1-row
    broadcasts)."""
    nodes = _live(spark, sf_dir, "q_bpe_train_merges")
    assert not _count(nodes, SCAN, SMJ)


def test_bpe_tokenize_cost_single_corpus_scan(spark, sf_dir):
    """Tokenizer apply: one corpus explode scan; the word->token-count
    vocab joins as a broadcast (memoized segmentation, never a re-fold
    per occurrence)."""
    nodes = _live(spark, sf_dir, "q_bpe_tokenize_cost")
    assert _count(nodes, SCAN) == 1
    assert _count(nodes, BHJ)
    assert not _count(nodes, SMJ)


def test_ts_similarity_topk_no_cartesian(spark, sf_dir):
    """Series similarity: moment sums + broadcast query support; the
    final top-k is TakeOrderedAndProject (k rows per partition), and
    the only cross joins are 1-row scalar broadcasts."""
    nodes = _nodes(spark, sf_dir, "q_ts_similarity_search")
    assert _count(nodes, TOP_K)
    assert not _count(nodes, CARTESIAN)


def test_ann_recall_audit_no_cartesian_product(spark, sf_dir):
    """Recall audit: the exact side is a deliberate broadcast
    nested-loop of the 16-query batch over the index (the audit's
    cost); nothing materializes a cartesian and nothing sort-merges."""
    nodes = _live(spark, sf_dir, "q_ann_recall_audit")
    assert not _count(nodes, CARTESIAN, SMJ)


def test_embedding_dq_single_scan_no_joins(spark, sf_dir):
    """Vector hygiene gate: one scan, aggregation only."""
    nodes = _nodes(spark, sf_dir, "q_embedding_dq")
    assert not _count(nodes, SMJ, BHJ, CARTESIAN)
    assert _count(nodes, SCAN) == 1


def test_chi_square_windows_over_cells_only(spark, sf_dir):
    """Chi-square: the contingency marginals (row, column and
    grand totals) are three windows over the r×c cell table, never the
    fact; the dims fold into the same pass — one scan, no joins."""
    nodes = _nodes(spark, sf_dir, "q_chi_square_independence")
    assert not _count(nodes, SMJ, BHJ, SHJ, CARTESIAN)
    assert _count(nodes, SCAN) == 1
    assert _count(nodes, "WindowExec") == 3


def test_gini_single_rank_over_key_aggregate(spark, sf_dir):
    """Gini: one fact aggregation, one |keys|-row rank window, one
    rollup — no joins anywhere."""
    nodes = _nodes(spark, sf_dir, "q_key_skew_gini")
    assert not _count(nodes, SMJ, BHJ, CARTESIAN)
    assert _count(nodes, "WindowExec") == 1


def test_growth_accounting_single_data_shuffle(spark, sf_dir):
    """Cells dedup is the only data-sized exchange; the lag/lead window
    reuses the user_id partitioning (no second user-keyed Exchange of
    the cell table) and nothing degenerates to a nested loop."""
    nodes = _live(spark, sf_dir, "q_growth_accounting")
    assert not _count(nodes, CARTESIAN)
    # windows must not add a fresh hashpartitioning on user_id beyond
    # the dedup's own: count exchanges keyed by user_id
    by_user = [
        s for s in _hash_exchanges(nodes)
        if s.startswith("Exchange hashpartitioning(user_id")
    ]
    assert len(by_user) <= 2, by_user


def test_audience_overlap_no_raw_pair_shuffle(spark, sf_dir):
    """The pairwise stage joins WORD tables (word_id key), never raw
    (type, user) rows. Round-10 shape: the word self-join is the ONLY
    join — per-type sizes come from the diagonal (t, t) rows via two
    windows over the aggregated pair table, not from broadcast size
    joins (which each rebuilt the word aggregation from the fact
    table)."""
    nodes = _live(spark, sf_dir, "q_audience_overlap")
    assert not _count(nodes, CARTESIAN)
    assert _count(nodes, BHJ, SMJ, SHJ) == 1  # the word_id self-join only
    assert _count(nodes, "WindowExec") == 2  # users_a / users_b off the diagonal
    assert not _count(nodes, "ExpandExec")  # no count-distinct expand anywhere
    # the fact table feeds exactly the two self-join sides, not four
    # independent aggregation branches
    events = [s for s in _strings(nodes, SCAN) if "events.parquet" in s]
    assert len(events) <= 2, events


def test_xcorr_grid_join_is_equi_not_nested_loop(spark, sf_dir):
    """The lag join must plan as a hash/sort-merge EQUI join on the
    shifted hour key (+ type inequality as a post-filter), never a
    nested loop over the grid."""
    nodes = _live(spark, sf_dir, "q_xcorr_best_lag")
    assert not _count(nodes, CARTESIAN)
    assert _count(nodes, SMJ, BHJ, SHJ) >= 1


def test_bucketed_smb_join_reads_bucketed_scan(spark, sf_dir):
    """The registry query's join must consume the bucketed layout:
    SelectedBucketsCount appears on both scans and the orderkey join
    adds no Exchange on either side."""
    nodes = _live(spark, sf_dir, "q_join_bucketed_smb")
    scans = _strings(nodes, SCAN)
    assert any(
        "Bucketed: true" in s or "SelectedBucketsCount" in s for s in scans
    ), scans
    for i, n in enumerate(nodes):
        if n.name == SMJ:
            # no Exchange between the join and its scans
            assert not any(
                b.string.startswith("Exchange hashpartitioning(l_orderkey")
                for b in _below(nodes, i)
            )


def test_rollup_reaggregate_merges_partials_not_raw(spark, sf_dir):
    """Day-grain distinct comes from OR-merging hour-grain words: the
    plan contains the two-level aggregate chain and no Expand (no
    count-distinct rewrite over raw user ids)."""
    nodes = _live(spark, sf_dir, "q_rollup_reaggregate")
    assert not _count(nodes, "ExpandExec", CARTESIAN)


def test_semdedup_sweep_single_pair_build(spark, sf_dir):
    """The sweep must not rebuild the candidate pairs per threshold:
    thresholds arrive via broadcast join onto ONE pair-build subtree."""
    nodes = _live(spark, sf_dir, "q_semdedup_threshold_sweep")
    assert not _count(nodes, CARTESIAN)
