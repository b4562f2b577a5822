"""Physical-plan regression tests: the plan SHAPE is the 100 TB design
(SURVEY.md §4) — these pin the properties a scale-up depends on, so a
refactor that silently de-broadcasts a dim, drops a pushed filter, or
turns a top-k into a global sort fails fast.

Assertions intentionally target coarse, stable markers (node names), not
full plan text — Spark version bumps reformat details but keep node
names.
"""

from __future__ import annotations

import pytest

from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.caches import (
    release_family,
)
from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.plans.registry import (
    all_specs,
)

SPECS = all_specs()


def _plan(spark, sf_dir, name: str) -> str:
    df = SPECS[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _strip_cached_subtrees(plan: str) -> str:
    """Drop the never-executed parts of a plan string before making
    live-plan assertions: (a) every InMemoryRelation subtree — the
    relation prints its STORED build plan for provenance but those
    nodes never re-execute (e.g. the shingle cache's one-time hot-list
    cross), and (b) AQE's '== Initial Plan ==' sections — only the
    Final Plan runs."""
    out, skips = [], []  # stack of subtree-start indentations
    for line in plan.splitlines():
        marker = line.find("+-")
        if marker >= 0:
            # a node at indent m ends every skipped subtree rooted at >= m
            skips = [d for d in skips if marker > d]
        if skips:
            continue
        if "InMemoryRelation" in line or "== Initial Plan ==" in line:
            skips.append(marker if marker >= 0 else 0)
            continue
        out.append(line)
    return "\n".join(out)


def test_q6_filters_push_to_scan(spark, sf_dir):
    """Q6's predicates reach the parquet reader (PushedFilters) and the
    scan projects only the referenced columns."""
    plan = _plan(spark, sf_dir, "q_tpch_q6")
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_shipdate)" in plan or "GreaterThanOrEqual(l_shipdate" in plan
    # column pruning: the wide lineitem table scans only what Q6 touches
    scan_line = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "l_returnflag" not in scan_line


def test_q3_topk_avoids_global_sort(spark, sf_dir):
    """Top-10 by revenue plans as TakeOrderedAndProject — k rows per
    partition reach the driver, never a full sort."""
    plan = _plan(spark, sf_dir, "q_tpch_q3")
    assert "TakeOrderedAndProject" in plan


def test_star_join_broadcasts_dims(spark, sf_dir):
    """The star join's dimension sides broadcast (no shuffle of the fact
    for dim joins)."""
    plan = _plan(spark, sf_dir, "q_join_star")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_q8_single_aggregate_exchange(spark, sf_dir):
    """The 8-way join streams lineitem through broadcasts; the only
    hash-partitioned exchange above the joins is the final groupBy."""
    plan = _plan(spark, sf_dir, "q_tpch_q8")
    agg_exchanges = [
        l
        for l in plan.splitlines()
        if "Exchange hashpartitioning" in l and "_groupingexpression" in l
    ]
    assert len(agg_exchanges) == 1
    assert plan.count("BroadcastHashJoin") >= 5


def test_q21_decorrelates_to_semi_and_anti(spark, sf_dir):
    """EXISTS -> LeftSemi, NOT EXISTS -> LeftAnti; no nested-loop join
    anywhere in the double-correlated plan."""
    plan = _plan(spark, sf_dir, "q_tpch_q21")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q18_semi_join_after_preaggregate(spark, sf_dir):
    """The HAVING-subquery keys a semi join against the pre-aggregated
    order quantities (the fact is aggregated once, not re-scanned)."""
    plan = _plan(spark, sf_dir, "q_tpch_q18")
    assert "LeftSemi" in plan


def test_ohlc_is_single_aggregate_no_window_sort(spark, sf_dir):
    """min_by/max_by candles need no Window node (no per-key row
    materialization) — one partial+final aggregate; struct-keyed min_by
    plans as SortAggregate (sorts only the aggregation buffers)."""
    plan = _plan(spark, sf_dir, "q_minute_ohlc")
    assert "Window" not in plan
    assert "SortAggregate" in plan or "HashAggregate" in plan


def test_chunking_plan_has_no_shuffle(spark, sf_dir):
    """Document chunking (explode) pipelines inside the scan stage —
    zero exchanges."""
    plan = _plan(spark, sf_dir, "q_text_chunking")
    assert "Exchange" not in plan
    assert "Generate explode" in plan


def test_latest_per_key_single_shuffle(spark, sf_dir):
    """CDC compaction: exactly one hash exchange (the key), one sort for
    the window."""
    plan = _plan(spark, sf_dir, "q_latest_per_key")
    assert plan.count("Exchange hashpartitioning") == 1


def test_merge_upsert_no_extra_exchange_after_compaction(spark, sf_dir):
    """Both compactions and the full-outer merge share the key
    partitioning: 2 exchanges total (one per side), none for the join."""
    plan = _plan(spark, sf_dir, "q_merge_upsert")
    assert plan.count("Exchange hashpartitioning") == 2
    assert "SortMergeJoin" in plan and "FullOuter" in plan


def test_anomaly_moments_window_no_join(spark, sf_dir):
    """q_events_anomaly: the per-type moments are one window
    over the minute counts — no join back of any strategy, exactly one
    fact scan in the plan."""
    plan = _plan(spark, sf_dir, "q_events_anomaly")
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "CartesianProduct"):
        assert node not in plan
    assert plan.count("Scan parquet") == 1
    assert plan.count("Window") == 1


def test_quantize_broadcasts_stats_row(spark, sf_dir):
    """q_embedding_quantize's per-dim min/max ride a broadcast 1-row
    frame — no SortMergeJoin, no CartesianProduct over data-sized
    inputs."""
    plan = _plan(spark, sf_dir, "q_embedding_quantize")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_containment_join_is_bucketed_not_nested_loop(spark, sf_dir):
    """q_dedup_containment's candidate generation is the banded equi-join
    — never a nested-loop/cartesian all-pairs plan. The shared shingle
    cache is materialized first (the steady state: the index is built
    once per session), because the cache BUILD subtree legitimately
    contains one single-row broadcast cross (the df-cap hot-shingle
    list) that would otherwise appear inside every consumer's
    pre-materialization plan."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.dedup import (
        _hashed_shingle_sets,
    )

    _hashed_shingle_sets(spark, sf_dir).count()
    plan = _strip_cached_subtrees(_plan(spark, sf_dir, "q_dedup_containment"))
    # the stripped live plan still contains the banded candidate join
    assert "Join [band" in plan or "Join band" in plan or "band" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_decayed_counts_single_aggregate(spark, sf_dir):
    """q_decayed_counts folds decay weighting into the one count
    aggregation — exactly one shuffle of the events table."""
    plan = _plan(spark, sf_dir, "q_decayed_counts")
    import re

    # aggregate exchanges: one partial+final pair for the groupBy; the
    # 1-row max-ts anchor contributes no Exchange over the fact table
    n_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_exchanges == 1, plan[:3000]


def test_pii_redact_no_shuffle(spark, sf_dir):
    """q_text_pii_redact is a pure per-row projection — no Exchange at
    all."""
    plan = _plan(spark, sf_dir, "q_text_pii_redact")
    assert "Exchange" not in plan


def test_training_corpus_pipeline_broadcasts_doc_joins(spark, sf_dir):
    """The corpus-prep composite joins cluster/keeper tables by broadcast
    — the fact-table scan is never shuffled for the enrichment joins."""
    plan = _plan(spark, sf_dir, "q_pipeline_training_corpus")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


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
    plan = _plan(spark, sf_dir, name)
    assert "WindowGroupLimit" in plan


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
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan or "BloomFilter" in plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q5_all_dims_broadcast_no_smj(spark, sf_dir):
    """Q5's 5-way star join broadcasts every dim — the fact table is
    never sort-merge-shuffled for a join."""
    plan = _plan(spark, sf_dir, "q_tpch_q5")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_q19_or_predicates_push_to_scan(spark, sf_dir):
    """Q19's OR-of-ANDs quantity bands reach the lineitem scan as data
    filters — the scan prunes before the join instead of shipping every
    row."""
    plan = _plan(spark, sf_dir, "q_tpch_q19")
    scan_lines = [
        line for line in plan.splitlines()
        if "FileScan" in line and "l_quantity" in line
    ]
    assert any(
        "DataFilters" in line and "l_quantity" in line.split("DataFilters", 1)[1]
        for line in scan_lines
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
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in plan, plan[:2000]
    assert "coalesced" in plan, plan[:2000]


def test_bloom_bits_join_broadcasts(spark, sf_dir):
    """The Bloom bit-set relation (bounded by m rows regardless of corpus
    size) must broadcast — the probe stream is never shuffled."""
    plan = _plan(spark, sf_dir, "q_dedup_bloom_shingles")
    assert "BroadcastHashJoin" in plan


def test_countmin_probe_joins_broadcast_grid(spark, sf_dir):
    """The ≤ depth×width cell grid broadcasts into the probe side."""
    plan = _plan(spark, sf_dir, "q_sketch_countmin")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_unigram_vocab_broadcasts(spark, sf_dir):
    """The vocab joins the token stream as a broadcast — a word-keyed
    shuffle join would Zipf-skew on stopwords."""
    plan = _plan(spark, sf_dir, "q_corpus_unigram_logprob")
    assert "BroadcastHashJoin" in plan


def test_kmv_is_take_ordered_not_global_sort(spark, sf_dir):
    """The k-minimum-values pass plans as TakeOrderedAndProject: each
    task keeps a local top-k, never a full sort of the hash column."""
    plan = _plan(spark, sf_dir, "q_sketch_kmv_distinct")
    assert "TakeOrderedAndProject" in plan


def test_zorder_single_aggregate_exchange(spark, sf_dir):
    """The Morton key is per-row arithmetic: the only exchange in the
    whole plan is the final file_id rollup."""
    plan = _plan(spark, sf_dir, "q_layout_zorder")
    exchanges = [
        l for l in plan.splitlines() if "Exchange hashpartitioning" in l
    ]
    assert len(exchanges) == 1, exchanges


def test_scd2_single_window_pass(spark, sf_dir):
    """row_number and lead evaluate in ONE Window operator over one
    key-partitioned exchange — no self-join, no second sort."""
    plan = _plan(spark, sf_dir, "q_scd2_history")
    window_nodes = [
        l for l in plan.splitlines() if l.strip().startswith("+- Window")
        or l.strip().startswith("Window")
    ]
    assert len(window_nodes) == 1, window_nodes
    assert "SortMergeJoin" not in plan


def test_shuffle_shards_offsets_broadcast(spark, sf_dir):
    """The prefix-summed bucket offsets (SHUFFLE_BUCKETS rows) broadcast
    back onto the data — the corpus itself is never globally sorted."""
    plan = _plan(spark, sf_dir, "q_corpus_shuffle_shards")
    assert "BroadcastHashJoin" in plan


def test_q9_partsupp_join_fused_away(spark, sf_dir):
    """Q9's partsupp join is fused into a lineitem predicate + inline
    projection: the plan must contain NO Generate (the 4-way partsupp
    explode) and only the final groupBy exchange — while the derived
    dimension itself (q_partsupp_derived) does explode."""
    plan = _plan(spark, sf_dir, "q_tpch_q9")
    assert "Generate" not in plan
    exchanges = [
        l for l in plan.splitlines() if "Exchange hashpartitioning" in l
    ]
    assert len(exchanges) <= 2, exchanges  # groupBy (+ orders join at scale)
    derived = _plan(spark, sf_dir, "q_partsupp_derived")
    assert "Generate" in derived


def test_q2_decorrelates_to_single_window(spark, sf_dir):
    """The correlated MIN subquery runs as ONE window over ps_partkey —
    not a second scan+join of partsupp."""
    plan = _plan(spark, sf_dir, "q_tpch_q2")
    window_nodes = [
        l for l in plan.splitlines() if "Window" in l and "min(" in l
    ]
    assert len(window_nodes) == 1, window_nodes
    assert "SortMergeJoin" not in plan


def test_q16_anti_join_broadcasts(spark, sf_dir):
    """Excluded suppliers apply as a broadcast LEFT ANTI join, never a
    NOT IN nested loop."""
    plan = _plan(spark, sf_dir, "q_tpch_q16")
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin LeftAnti" not in plan


def test_q20_semi_joins_broadcast(spark, sf_dir):
    """The qualifying-supplier set semi-joins into the region-filtered
    supplier dim; the bolt-part prefilter broadcasts into lineitem."""
    plan = _plan(spark, sf_dir, "q_tpch_q20")
    assert "LeftSemi" in plan
    assert "BroadcastHashJoin" in plan


def test_pq_adc_all_broadcast_no_shuffle_join(spark, sf_dir):
    """PQ encoding/scoring is per-row arithmetic against broadcast
    codebook + query rows: no shuffle join anywhere, top-k via
    TakeOrderedAndProject."""
    plan = _plan(spark, sf_dir, "q_ann_pq_adc")
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_pca_power_exchanges_are_dim_sized(spark, sf_dir):
    """Each power iteration aggregates to 64 dims: every hash exchange
    in the plan groups on the dim key (or is a 1-row aggregate) — the
    data-sized relation never shuffles."""
    plan = _plan(spark, sf_dir, "q_embedding_pca_power")
    assert "SortMergeJoin" not in plan


def test_funnel_multistep_no_nested_loop(spark, sf_dir):
    """Every funnel hop is a bucketized equi-join — no nested-loop /
    cartesian fallback anywhere in the chain."""
    plan = _plan(spark, sf_dir, "q_funnel_multistep")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kmv_setops_sketches_take_ordered(spark, sf_dir):
    """All three sketches (A, B, merged union) build via TakeOrdered
    top-k — the fact table is never globally sorted."""
    plan = _plan(spark, sf_dir, "q_sketch_kmv_setops")
    assert plan.count("TakeOrderedAndProject") >= 3


def test_incremental_mv_merges_without_join(spark, sf_dir):
    """The MV refresh is pure aggregation algebra: partials + union +
    re-aggregate — no join anywhere in the plan."""
    plan = _plan(spark, sf_dir, "q_incremental_mv")
    assert "Join" not in plan
    assert "Union" in plan


def test_seasonal_naive_self_join_is_aggregate_sized(spark, sf_dir):
    """The 24h-shift join runs over the hour-level aggregate (tiny), so
    it broadcasts — the fact table is scanned once, never joined."""
    plan = _plan(spark, sf_dir, "q_forecast_seasonal_naive")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_triangles_all_equi_joins(spark, sf_dir):
    """Triangle enumeration is two equi-joins over the oriented edge
    list — never a cartesian, and the only nested-loop nodes are the
    upstream MinHash pipeline's 1-row scalar cross joins (Cross type);
    the persisted pair list keeps that pipeline from running 3×."""
    plan = _plan(spark, sf_dir, "q_graph_triangles")
    assert "CartesianProduct" not in plan
    for ln in plan.splitlines():
        if "BroadcastNestedLoopJoin" in ln:
            assert "Cross" in ln, f"non-scalar nested loop: {ln.strip()}"


def test_gopher_rules_scan_bound(spark, sf_dir):
    """Every Gopher rule is per-row array arithmetic: no join and no
    aggregation exchange anywhere — one codegen'd scan."""
    plan = _plan(spark, sf_dir, "q_quality_gopher_rules")
    assert "Join" not in plan
    assert "Exchange hashpartitioning" not in plan


def test_running_distinct_windows_calendar_rows_only(spark, sf_dir):
    """The running-sum window runs over minute buckets (calendar-sized),
    after a user-keyed first-seen aggregation — the fact table itself is
    never window-sorted."""
    plan = _plan(spark, sf_dir, "q_running_distinct_users")
    # two aggregations (user first-seen, minute rollup), one window
    assert plan.count("Window") >= 1
    assert "SortMergeJoin" not in plan


def test_ivf_pq_bucket_restricted_and_broadcast(spark, sf_dir):
    """IVF+PQ composition: the candidate set is the broadcast-semi-joined
    probe buckets, PQ scoring is per-row against broadcast codebook rows,
    and the top-k is TakeOrderedAndProject — no shuffle join, no global
    sort."""
    plan = _plan(spark, sf_dir, "q_ann_ivf_pq")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_bigram_lm_single_explode_partial_aggs(spark, sf_dir):
    """Bigram construction stays narrow until the scalar bigram string
    explodes once; count tables join by key (AQE handles the Zipf head).
    No cartesian anywhere."""
    plan = _plan(spark, sf_dir, "q_corpus_bigram_logprob")
    assert "CartesianProduct" not in plan


def test_interval_overlap_is_grid_equi_join(spark, sf_dir):
    """The interval×interval join decomposes onto the hour grid: an
    equi-join on the bucket, never the naive theta/cartesian form the
    oracle runs."""
    plan = _plan(spark, sf_dir, "q_join_interval_overlap")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_skyline_no_self_join(spark, sf_dir):
    """The skyline uses the sort-scan decomposition: one window over
    distinct-x rows + a join back on x — never the quadratic NOT-EXISTS
    self-join of the oracle."""
    plan = _plan(spark, sf_dir, "q_skyline_customers")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Window") >= 1


def test_zonemap_skip_no_joins(spark, sf_dir):
    """Zone-map simulation is two aggregations + a union — any join node
    means someone re-joined the stat relations to the fact table."""
    plan = _plan(spark, sf_dir, "q_layout_zonemap_skip")
    for node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
                 "BroadcastNestedLoopJoin"):
        assert node not in plan


def test_compaction_bins_window_over_file_stats(spark, sf_dir):
    """The packing window runs over the per-file stat relation (post-agg),
    never the raw document rows, and nothing joins back to documents."""
    plan = _plan(spark, sf_dir, "q_layout_compaction_bins")
    assert "Window" in plan
    for node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert node not in plan
    # the fact table is scanned exactly once
    assert plan.count("FileScan parquet") == 1


def test_resample_single_fact_pass_no_cartesian(spark, sf_dir):
    """Gap-fill reads events for the hourly agg + tiny bounds/type
    relations; the grid join must not plan as a cartesian product."""
    plan = _plan(spark, sf_dir, "q_resample_interpolate")
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_temperature_rates_broadcast_onto_corpus(spark, sf_dir):
    """The per-source rate table broadcast-joins onto the documents scan
    — the corpus is never shuffled to be labeled with its rate."""
    plan = _plan(spark, sf_dir, "q_sample_temperature")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semdedup_equi_join_on_cluster(spark, sf_dir):
    """SemDeDup's pair join is an equi-join on cent_id — no cartesian
    anywhere (the only BNLJ allowed is the broadcast centroid assign)."""
    plan = _plan(spark, sf_dir, "q_dedup_semdedup")
    assert "CartesianProduct" not in plan
    # same contract for the dynamic-K production form (the headline)
    plan = _plan(spark, sf_dir, "q_dedup_semdedup_scaled")
    assert "CartesianProduct" not in plan


def test_phash_band_equi_join_carries_verify_payload(spark, sf_dir):
    """pHash candidates come from an equi-join on (band_idx, band_val);
    the Hamming verify reuses carried band values — no THIRD scan joins
    back to documents, no cartesian. (Spark plans a self-join as two
    scans of the source — acceptable because each side projects only
    (doc_id, text→hash); a session-cached band table would cut it to
    one, as the dedup tier's shared shingle cache does.)"""
    plan = _plan(spark, sf_dir, "q_multimodal_phash")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("FileScan parquet") == 2


def test_dq_audit_event_checks_single_agg_fk_broadcast_anti(spark, sf_dir):
    """The four event checks fold into aggregation passes (no shuffle
    join); the FK check is a broadcast LEFT ANTI — never a sort-merge."""
    plan = _plan(spark, sf_dir, "q_dq_audit")
    assert "SortMergeJoin" not in plan
    assert "LeftAnti" in plan


def test_rank_suite_single_window_no_join(spark, sf_dir):
    """All five rank functions share ONE window spec — one sort, no
    joins anywhere."""
    plan = _plan(spark, sf_dir, "q_window_rank_suite")
    for node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert node not in plan
    assert plan.count("Window") == 1


def test_hist_quantile_no_shuffle_joins(spark, sf_dir):
    """Histogram sketch: stats and quantile targets ride broadcast
    single-row joins; nothing sort-merges and the fact never shuffles
    for a join."""
    plan = _plan(spark, sf_dir, "q_sketch_hist_quantile")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bloom_pruned_join_all_broadcast(spark, sf_dir):
    """Bloom-pruned join: the bitmap and the dim both broadcast — the
    fact table is never shuffled for a join, and the only equi-join is
    the broadcast-hash verify against the filtered dim."""
    plan = _plan(spark, sf_dir, "q_join_bloom_pruned")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_sequence_pattern_single_shuffle_no_join(spark, sf_dir):
    """Sequence building is one user-keyed aggregation; the regex is a
    projection — exactly one hash exchange, no joins, no windows."""
    plan = _plan(spark, sf_dir, "q_event_sequence_pattern")
    assert plan.count("Exchange hashpartitioning") == 1
    for node in ("SortMergeJoin", "BroadcastHashJoin", "Window"):
        assert node not in plan


def test_attribution_no_join_single_user_shuffle(spark, sf_dir):
    """Last-touch attribution composes from the per-user window (as-of
    mechanism): no join node; the two ignore-nulls last-values share one
    Window."""
    plan = _plan(spark, sf_dir, "q_attribution_last_touch")
    for node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert node not in plan
    assert plan.count("Window") == 1


def test_ann_batch_queries_broadcast_bucket_join(spark, sf_dir):
    """Batched ANN: the query batch broadcasts onto the bucketed index
    join; ranking gets the WindowGroupLimit pushdown (top-k per query
    without sorting whole buckets)."""
    plan = _plan(spark, sf_dir, "q_ann_batch_queries")
    assert "SortMergeJoin" not in plan
    assert "WindowGroupLimit" in plan


def test_semdedup_scaled_equi_join_on_cluster(spark, sf_dir):
    """Dynamic-K SemDeDup keeps the same plan contract as the fixed-K
    form: pair generation is an equi-join on cent_id, no cartesian."""
    plan = _plan(spark, sf_dir, "q_dedup_semdedup_scaled")
    assert "CartesianProduct" not in plan


def test_phash_wide_same_plan_contract(spark, sf_dir):
    """The wide-band variant keeps the base pHash plan contract: band
    equi-join, carried verify, no cartesian, 2 scans (self-join)."""
    plan = _plan(spark, sf_dir, "q_multimodal_phash_wide")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("FileScan parquet") == 2


def test_hybrid_rrf_fuses_pool_sized_lists(spark, sf_dir):
    """Hybrid RRF: both retrieval pools plan as TakeOrderedAndProject
    (k rows per partition, never corpus sorts), so the only
    merge-join in the plan is the FullOuter fuse of the two ≤pool-row
    lists — full outer cannot broadcast in Spark, and over pool-sized
    inputs the sort is trivial by construction."""
    plan = _plan(spark, sf_dir, "q_hybrid_search_rrf")
    assert plan.count("TakeOrderedAndProject") >= 3  # lex pool, vec pool, fuse
    assert plan.count("SortMergeJoin") == 1
    assert "FullOuter" in plan


def test_rfm_windows_over_customer_aggregate(spark, sf_dir):
    """RFM: the fact shuffles once (custkey agg); the anchor date rides
    a 1-row broadcast; the three NTILE specs run over the
    customer-sized aggregate (global windows are |customers| rows — the
    known single-partition cost of exact quartiles, not a fact sort)."""
    plan = _plan(spark, sf_dir, "q_customer_rfm")
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_welch_single_moments_pass_no_join(spark, sf_dir):
    """A/B readout (round 11): BOTH arms' moments fold into one
    conditional aggregation over one fact scan — no arm self-join of
    any strategy, exactly one scan in the plan."""
    plan = _plan(spark, sf_dir, "q_ab_test_welch")
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "CartesianProduct"):
        assert node not in plan
    assert plan.count("Scan parquet") == 1


def test_bitmap_distinct_two_aggs_no_joins_no_expand(spark, sf_dir):
    """Bitmap distinct: word build + popcount rollup are two hash
    aggregations and nothing else — crucially NO Expand node (the
    count-distinct rewrite this operator replaces)."""
    plan = _plan(spark, sf_dir, "q_bitmap_distinct")
    for node in (
        "SortMergeJoin",
        "BroadcastHashJoin",
        "CartesianProduct",
        "Expand",
        "Window",
    ):
        assert node not in plan


def test_dedup_tolerance_single_key_shuffle_no_join(spark, sf_dir):
    """Tolerance dedup audit: the lag window and the rollup ride the
    same (user, type) exchange lineage — no join nodes."""
    plan = _plan(spark, sf_dir, "q_event_dedup_tolerance")
    for node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert node not in plan
    assert plan.count("Window") == 1


def test_degree_stats_aggs_only(spark, sf_dir):
    """Degree histogram: aggregations over the pair list only — the
    diagnostic must not itself join (that's what it protects against)."""
    plan = _strip_cached_subtrees(_plan(spark, sf_dir, "q_graph_degree_stats"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rle_estimator_single_data_distinct(spark, sf_dir):
    """RLE planner: exactly one data-sized exchange (the triple
    distinct); every prefix NDV aggregates the tiny triple table; the
    row count joins as a broadcast scalar."""
    plan = _plan(spark, sf_dir, "q_layout_rle_estimate")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # one scan feeds the distinct, one the row count; no other scans
    assert plan.count("FileScan parquet") == 2


def test_scd2_pit_join_no_join_single_user_shuffle(spark, sf_dir):
    """Point-in-time enrichment plans as the union as-of mechanism:
    no join node anywhere; one user-keyed exchange feeds the single
    Window that computes both last-dim-value and running version."""
    plan = _plan(spark, sf_dir, "q_scd2_pit_join")
    for node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert node not in plan
    assert plan.count("Window") == 1


def test_bpe_train_chains_from_cached_vocab(spark, sf_dir):
    """BPE training: the corpus is scanned once into the persisted
    word-frequency cache; every merge iteration (and each union branch
    of the 4-row output) chains from vocab-sized persisted data — no
    live corpus scan, no sort-merge joins (argmax rows ride 1-row
    broadcasts). The cache is cleared first so the explain shows the
    UNMATERIALIZED stored plans: once an AQE-executed cache is printed,
    its nested ResultQueryStage blocks reset indentation and defeat
    ``_strip_cached_subtrees``'s indent heuristic (the round-10
    per-iteration persist made the stored plans nested, which is where
    the suite first hit that)."""
    release_family("bpe_trainings")
    plan = _strip_cached_subtrees(_plan(spark, sf_dir, "q_bpe_train_merges"))
    assert "FileScan parquet" not in plan
    assert "SortMergeJoin" not in plan


def test_bpe_tokenize_cost_single_corpus_scan(spark, sf_dir):
    """Tokenizer apply: one corpus explode scan; the word->token-count
    vocab joins as a broadcast (memoized segmentation, never a re-fold
    per occurrence). Fresh cache for the same stripping reason as
    test_bpe_train_chains_from_cached_vocab."""
    release_family("bpe_trainings")
    plan = _strip_cached_subtrees(_plan(spark, sf_dir, "q_bpe_tokenize_cost"))
    assert plan.count("FileScan parquet") == 1
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ts_similarity_topk_no_cartesian(spark, sf_dir):
    """Series similarity: moment sums + broadcast query support; the
    final top-k is TakeOrderedAndProject (k rows per partition), and
    the only cross joins are 1-row scalar broadcasts."""
    plan = _plan(spark, sf_dir, "q_ts_similarity_search")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_ann_recall_audit_no_cartesian_product(spark, sf_dir):
    """Recall audit: the exact side is a deliberate broadcast
    nested-loop of the 16-query batch over the index (the audit's
    cost); nothing materializes a cartesian and nothing sort-merges."""
    plan = _strip_cached_subtrees(_plan(spark, sf_dir, "q_ann_recall_audit"))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_embedding_dq_single_scan_no_joins(spark, sf_dir):
    """Vector hygiene gate: one scan, aggregation only."""
    plan = _plan(spark, sf_dir, "q_embedding_dq")
    for node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert node not in plan
    assert plan.count("FileScan parquet") == 1


def test_chi_square_windows_over_cells_only(spark, sf_dir):
    """Chi-square: the contingency marginals (row, column and
    grand totals) are three windows over the r×c cell table, never the
    fact; the dims fold into the same pass — one scan, no joins."""
    plan = _plan(spark, sf_dir, "q_chi_square_independence")
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "CartesianProduct"):
        assert node not in plan
    assert plan.count("Scan parquet") == 1
    assert plan.count("Window") == 3


def test_gini_single_rank_over_key_aggregate(spark, sf_dir):
    """Gini: one fact aggregation, one |keys|-row rank window, one
    rollup — no joins anywhere."""
    plan = _plan(spark, sf_dir, "q_key_skew_gini")
    for node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert node not in plan
    assert plan.count("Window") == 1


def test_growth_accounting_single_data_shuffle(spark, sf_dir):
    """Cells dedup is the only data-sized exchange; the lag/lead window
    reuses the user_id partitioning (no second user-keyed Exchange of
    the cell table) and nothing degenerates to a nested loop."""
    plan = _strip_cached_subtrees(_plan(spark, sf_dir, "q_growth_accounting"))
    assert "CartesianProduct" not in plan
    # windows must not add a fresh hashpartitioning on user_id beyond
    # the dedup's own: count exchanges keyed by user_id
    assert plan.count("Exchange hashpartitioning(user_id") <= 2


def test_audience_overlap_no_raw_pair_shuffle(spark, sf_dir):
    """The pairwise stage joins WORD tables (word_id key), never raw
    (type, user) rows. Round-10 shape: the word self-join is the ONLY
    join — per-type sizes come from the diagonal (t, t) rows via two
    windows over the aggregated pair table, not from broadcast size
    joins (which each rebuilt the word aggregation from the fact
    table)."""
    plan = _strip_cached_subtrees(_plan(spark, sf_dir, "q_audience_overlap"))
    assert "CartesianProduct" not in plan
    joins = (
        plan.count("BroadcastHashJoin")
        + plan.count("SortMergeJoin")
        + plan.count("ShuffledHashJoin")
    )
    assert joins == 1  # the word_id self-join, and nothing else
    assert plan.count("Window") == 2  # users_a / users_b off the diagonal
    assert "Expand" not in plan  # no count-distinct expand anywhere
    # the fact table feeds exactly the two self-join sides, not four
    # independent aggregation branches
    assert plan.count("events.parquet") <= 2


def test_xcorr_grid_join_is_equi_not_nested_loop(spark, sf_dir):
    """The lag join must plan as a hash/sort-merge EQUI join on the
    shifted hour key (+ type inequality as a post-filter), never a
    nested loop over the grid."""
    plan = _strip_cached_subtrees(_plan(spark, sf_dir, "q_xcorr_best_lag"))
    assert "CartesianProduct" not in plan
    joins = plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") + plan.count("ShuffledHashJoin")
    assert joins >= 1


def test_bucketed_smb_join_reads_bucketed_scan(spark, sf_dir):
    """The registry query's join must consume the bucketed layout:
    SelectedBucketsCount appears on both scans and the orderkey join
    adds no Exchange on either side."""
    plan = _strip_cached_subtrees(_plan(spark, sf_dir, "q_join_bucketed_smb"))
    assert "Bucketed: true" in plan or "SelectedBucketsCount" in plan, plan[:2000]
    join_idx = plan.find("SortMergeJoin")
    if join_idx >= 0:
        # no Exchange between the join and its scans
        below = plan[join_idx:]
        scan_idx = below.find("FileScan")
        assert "Exchange hashpartitioning(l_orderkey" not in below[:scan_idx]


def test_rollup_reaggregate_merges_partials_not_raw(spark, sf_dir):
    """Day-grain distinct comes from OR-merging hour-grain words: the
    plan contains the two-level aggregate chain and no Expand (no
    count-distinct rewrite over raw user ids)."""
    plan = _strip_cached_subtrees(_plan(spark, sf_dir, "q_rollup_reaggregate"))
    assert "Expand" not in plan
    assert "CartesianProduct" not in plan


def test_semdedup_sweep_single_pair_build(spark, sf_dir):
    """The sweep must not rebuild the candidate pairs per threshold:
    thresholds arrive via broadcast join onto ONE pair-build subtree."""
    plan = _strip_cached_subtrees(
        _plan(spark, sf_dir, "q_semdedup_threshold_sweep")
    )
    assert "CartesianProduct" not in plan
