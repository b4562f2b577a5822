"""Round-7 pins: bounded-output simhash production form, the RHP
re-shard dial (the path past the band-width ceiling), and the headline
SemDeDup promotion."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.caches import (
    release_family,
)
from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.plans.profile import (
    plan_nodes,
)


def _planted_clique_fixture(spark, tmp_path, m: int = 24, solo: int = 30):
    """A documents dir with one m-document exact-duplicate clique plus
    ``solo`` unrelated docs — pair output is quadratic in m, per-doc
    output is linear."""
    dup = " ".join(f"tok{i % 7}" for i in range(60))
    rows = [(i, dup, "en", "web", len(dup)) for i in range(m)]
    rows += [
        (
            1000 + i,
            " ".join(f"uniq{i}w{j}x{i * 31 + j}" for j in range(40)),
            "en",
            "web",
            0,
        )
        for i in range(solo)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).withColumn("n_chars", F.length("text"))
    out = tmp_path / "fix"
    out.mkdir()
    import glob
    import os

    df.coalesce(1).write.parquet(str(tmp_path / "w"))
    (part,) = glob.glob(str(tmp_path / "w" / "part-*.parquet"))
    os.replace(part, str(out / "documents.parquet"))
    return str(out)


def test_simhash_best_output_is_linear_in_docs(spark, tmp_path):
    """The production form's output is O(docs) even on a dense clique
    where the audit pair list is O(m²): every near-dup doc appears
    exactly once with its best (min-hamming, then min-id) keeper."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.dedup import (
        q_dedup_simhash_best,
        q_dedup_simhash_pairs,
    )

    m = 24
    fix = _planted_clique_fixture(spark, tmp_path, m=m)
    pairs = q_dedup_simhash_pairs(spark, fix)
    assert pairs.count() == m * (m - 1) // 2  # quadratic audit output
    best = q_dedup_simhash_best(spark, fix).collect()
    assert len(best) == m - 1  # linear: every doc but the keeper, once
    assert {r.doc_id for r in best} == set(range(1, m))
    # exact clique: hamming 0 everywhere, keeper is the smallest id
    assert all(r.kept_doc_id == 0 and r.hamming == 0 for r in best)


def test_simhash_best_is_partial_agg_not_window(spark, sf_dir):
    """The per-doc argmin plans as a map-side-combinable aggregate (two
    HashAggregate phases), not a window sort — at 100 TB the reduction
    happens before the shuffle."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.dedup import (
        q_dedup_simhash_best,
    )

    nodes = plan_nodes(q_dedup_simhash_best(spark, sf_dir), builds=True)
    names = [n.name for n in nodes]
    assert "WindowExec" not in names
    assert "CartesianProductExec" not in names


def test_sharded_dedup_floor_parity_below_cap(spark, sf_dir):
    """With n ≤ RHP_SHARD_CAP the shard dial is inert (s=0): the sharded
    form returns EXACTLY q_dedup_embedding's removal list."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.catalog import (
        table,
    )
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.similarity import (
        RHP_SHARD_CAP,
        q_dedup_embedding,
        q_dedup_embedding_sharded,
        rhp_shard_bits,
    )

    n = table(spark, sf_dir, "embeddings").count()
    assert n <= RHP_SHARD_CAP and rhp_shard_bits(n) == 0
    a = sorted(map(tuple, q_dedup_embedding(spark, sf_dir).collect()))
    b = sorted(map(tuple, q_dedup_embedding_sharded(spark, sf_dir).collect()))
    assert a == b and len(a) > 0


def test_shard_dial_activates_and_coshards_exact_dups(
    spark, sf_dir, tmp_path
):
    """Past the cap the dial is ACTIVE: >1 shard key materializes, every
    bucket key gains shard equality, and — because shard bits are
    hyperplane SIGNS, not row-id hashes — exact-duplicate vectors always
    land in the same shard (the property a vec_id hash would destroy)."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.similarity import (
        RHP_SHARD_CAP,
        RHP_SHARD_PLANE_BASE,
        _rhp_bit_exprs,
        _rhp_sharded_band_rows,
        rhp_band_bits,
        rhp_shard_bits,
    )

    # integer rule: s steps exactly when 2^s*cap crosses n; band width
    # compensates per-shard (never wider than the unsharded width)
    assert rhp_shard_bits(RHP_SHARD_CAP) == 0
    assert rhp_shard_bits(RHP_SHARD_CAP + 1) == 1
    assert rhp_shard_bits(20 * RHP_SHARD_CAP) == 5
    for n in (10_000, 1_000_000, 100_000_000):
        s = rhp_shard_bits(n)
        assert rhp_band_bits(n, shard_bits=s) <= rhp_band_bits(n)
    # live dial on a >cap fixture: clone sf embeddings past the cap with
    # an EXACT duplicate planted at a shifted id
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.catalog import (
        table,
    )

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n0 = emb.count()
    copies = RHP_SHARD_CAP // n0 + 1
    import glob
    import os

    big = emb
    for c in range(1, copies + 1):
        big = big.unionAll(
            emb.select(
                (F.col("vec_id") + c * 1_000_000).alias("vec_id"),
                "embedding",
            )
        )
    # pytest-managed dir: unique per run, so concurrent/parallel test
    # runs never collide on a shared /tmp path (round-8 ADVICE)
    tmp = str(tmp_path / "rhp_shard_fixture")
    big.coalesce(1).write.mode("overwrite").parquet(tmp + "/w")
    (part,) = glob.glob(tmp + "/w/part-*.parquet")
    os.makedirs(tmp + "/fix", exist_ok=True)
    os.replace(part, tmp + "/fix/embeddings.parquet")
    release_family("rhp_sketches")
    try:
        rows = _rhp_sharded_band_rows(spark, tmp + "/fix")
        n_shards = rows.select("shard").distinct().count()
        assert n_shards > 1  # the dial is ACTIVE
        # every copy of a vector carries the same embedding → identical
        # sign bits → identical shard: shard count per base id is 1
        per_base = (
            rows.select(
                (F.col("vec_id") % 1_000_000).alias("base"), "shard"
            )
            .distinct()
            .groupBy("base")
            .agg(F.countDistinct("shard").alias("ns"))
            .agg(F.max("ns"))
            .first()[0]
        )
        assert per_base == 1
    finally:
        release_family("rhp_sketches")
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
    # shard planes never overlap band planes (disjoint index ranges)
    assert RHP_SHARD_PLANE_BASE >= 8 * 16
    assert len(_rhp_bit_exprs(F.col("x"), 2, start=RHP_SHARD_PLANE_BASE)) == 2


def test_headline_set_contains_only_scale_forms():
    """The bench headline slots carry the forms you'd run at 100×: the
    dynamic-K SemDeDup replaced the fixed-K pedagogical one (round-6
    verdict item 2)."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.plans.registry import (
        headline_specs,
    )

    names = set(headline_specs())
    assert "q_dedup_semdedup_scaled" in names
    assert "q_dedup_semdedup" not in names


def test_twolevel_ivf_build_shape(spark, sf_dir):
    """Two-level assignment covers every vector exactly once, uses the
    documented integer dials, and plans as broadcast folds (no N×K rows,
    no cartesian)."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.catalog import (
        table,
    )
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.similarity import (
        _twolevel_assignment,
        q_ann_ivf_twolevel,
    )

    release_family("ivf_assignments")
    try:
        n = table(spark, sf_dir, "embeddings").count()
        a = _twolevel_assignment(spark, sf_dir)
        assert a.count() == n
        assert a.select("vec_id").distinct().count() == n
        nodes = plan_nodes(q_ann_ivf_twolevel(spark, sf_dir), builds=True)
        assert "CartesianProductExec" not in [n.name for n in nodes]
    finally:
        release_family("ivf_assignments")
