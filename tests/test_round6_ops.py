"""Round-6 operator tests: data-edge recursive hierarchy."""

from __future__ import annotations

from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.caches import (
    release_family,
)
from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.catalog import (
    table,
)


def _parent(k: int) -> int:
    return k // (2 + (k * 2654435761) % 7)


def test_hierarchy_data_edges_matches_python_model(spark, sf_dir):
    """Independent model check: replay the iterative ancestor walk in
    plain Python (with the same parent<node acyclicity guard) over the
    collected fixture and compare every (node, n_members, n_orders,
    subtree_revenue) row. Also the regression pin for the custkey-0
    self-loop: the fixture REALLY contains c_custkey=0 with
    parent(0)=0, so an unguarded walk would never converge."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.graph import (
        q_hierarchy_data_edges,
    )

    custkeys = [
        r.c_custkey
        for r in table(spark, sf_dir, "customer").select("c_custkey").collect()
    ]
    assert 0 in custkeys  # the self-loop node the guard exists for
    spend = {
        r.node: (float(r.s), r.n)
        for r in table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("node"))
        .agg(F.sum("o_totalprice").alias("s"), F.count("*").alias("n"))
        .collect()
    }
    key_set = set(custkeys)
    members = defaultdict(list)
    for k in custkeys:
        anc = k
        members[anc].append(k)
        # climb only strictly-decreasing edges of customer nodes
        while anc in key_set and _parent(anc) < anc:
            anc = _parent(anc)
            members[anc].append(k)
    expected = {}
    for anc, ms in members.items():
        s = sum(spend.get(m, (0.0, 0))[0] for m in ms)
        n = sum(spend.get(m, (0.0, 0))[1] for m in ms)
        expected[anc] = (len(ms), n, round(s, 2))
    rows = q_hierarchy_data_edges(spark, sf_dir).collect()
    assert len(rows) == len(expected)
    for r in rows:
        exp = expected[r.node]
        assert (r.n_members, r.n_orders) == exp[:2], r.node
        assert r.subtree_revenue == pytest.approx(exp[2], abs=0.02)


def test_hierarchy_data_edges_root_collects_everything(spark, sf_dir):
    """Conservation at the root: node 0's subtree holds every customer
    whose decreasing chain reaches 0, and summed member counts across
    depth-0 self-rows equal |customer|."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.graph import (
        q_hierarchy_data_edges,
    )

    rows = {r.node: r for r in q_hierarchy_data_edges(spark, sf_dir).collect()}
    n_cust = table(spark, sf_dir, "customer").count()
    # every chain k -> k//d -> ... with d>=2 reaches 0 when keys are
    # contiguous from 0 (every intermediate value is a smaller custkey),
    # so at the base fixtures root 0 must contain ALL customers
    custkeys = sorted(
        r.c_custkey
        for r in table(spark, sf_dir, "customer").select("c_custkey").collect()
    )
    if custkeys == list(range(len(custkeys))):
        assert rows[0].n_members == n_cust


# --- occupancy-adaptive RHP banding (round-6 10x soak fix) -----------------


def test_rhp_band_bits_rule():
    """Width rule invariants: floor at small n, occupancy bound honored,
    monotone non-decreasing in n, capped at the max."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.similarity import (
        RHP_BAND_BITS,
        RHP_BAND_BITS_MAX,
        RHP_TARGET_OCC,
        rhp_band_bits,
    )

    assert rhp_band_bits(0) == RHP_BAND_BITS
    assert rhp_band_bits(500) == RHP_BAND_BITS  # sf0.01: legacy banding
    assert rhp_band_bits(2000) == RHP_BAND_BITS  # sf0.1: legacy banding
    # the 10x soak fixture (20k vectors) must widen
    assert rhp_band_bits(20000) > RHP_BAND_BITS
    prev = 0
    for n in (1, 100, 4096, 4097, 20000, 10**6, 10**9, 10**12):
        b = rhp_band_bits(n)
        assert b >= prev, "width must be monotone in n"
        prev = b
        assert RHP_BAND_BITS <= b <= RHP_BAND_BITS_MAX
        if b < RHP_BAND_BITS_MAX:
            # occupancy bound: 2^b buckets hold n at <= target each
            assert (1 << b) * RHP_TARGET_OCC >= n
            if b > RHP_BAND_BITS:
                # minimality: one bit fewer would violate the bound
                assert (1 << (b - 1)) * RHP_TARGET_OCC < n


@pytest.fixture(scope="module")
def adaptive_rhp_sf_dir(spark, tmp_path_factory):
    """A corpus big enough to engage adaptive banding (8192 vectors ->
    7-bit bands) with seeded pseudo-random unit-range vectors; the first
    128 vectors are repeated from a smaller twin fixture so sketch
    stability across corpus sizes is observable."""
    import random

    d = tmp_path_factory.mktemp("adaptive_rhp")
    rng = random.Random(20260815)
    dim = 16  # low dims correlate sign bits and skew buckets hard
    big = [
        (i, [float(rng.uniform(-1.0, 1.0)) for _ in range(dim)])
        for i in range(8192)
    ]
    small = big[:128]
    spark.createDataFrame(
        big, "vec_id long, embedding array<float>"
    ).coalesce(4).write.parquet(str(d / "big" / "embeddings.parquet"))
    spark.createDataFrame(
        small, "vec_id long, embedding array<float>"
    ).coalesce(1).write.parquet(str(d / "small" / "embeddings.parquet"))
    return str(d / "big"), str(d / "small")


def test_rhp_adaptive_width_engages_and_cuts_candidates(
    spark, adaptive_rhp_sf_dir, monkeypatch
):
    """At 8192 vectors the band width must exceed the 6-bit floor (codes
    >= 64 appear) and the in-bucket pair mass must drop materially vs
    the fixed 6-bit banding on the SAME corpus — each extra bit roughly
    halves it (2x here at 7 bits; 8x at the soak's 9 bits). The
    absolute mass is deliberately not pinned: the
    deterministic LCG planes carry bit correlation (see
    test_rhp_band_skew_candidate_bound), so bucket occupancy runs a
    measured ~4-5x over the iid-uniform expectation — the RELATIVE cut
    is the scale property the width rule exists to deliver."""
    from pyspark.sql import functions as F

    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators import (
        similarity as sim,
    )

    big, _ = adaptive_rhp_sf_dir
    release_family("rhp_sketches")
    try:
        max_code = sim.rhp_band_rows(spark, big).agg(
            F.max("code").alias("m")
        ).collect()[0]["m"]
        assert max_code >= 64, "adaptive width did not engage"

        # 'pair mass' = sum over (band, code) buckets of C(occ, 2): the
        # band join's OUTPUT rows, the thing that explodes at scale (the
        # DISTINCT pair count moves less because coarse bands overlap)
        def pair_mass() -> float:
            occ = sim.rhp_band_rows(spark, big).groupBy("band", "code").count()
            return occ.agg(
                F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("m")
            ).collect()[0]["m"]

        mass_adaptive = pair_mass()
        release_family("rhp_sketches")
        monkeypatch.setattr(sim, "rhp_band_bits", lambda n: 6)
        mass_fixed = pair_mass()
        assert mass_adaptive < 0.75 * mass_fixed, (mass_adaptive, mass_fixed)
    finally:
        release_family("rhp_sketches")


def test_rhp_adaptive_banding_matches_duckdb(spark, adaptive_rhp_sf_dir):
    """Cross-engine lockstep at an n where the width rule is ACTIVE
    (the sf0.01 driver contract only ever exercises the 6-bit floor):
    DuckDB's params/codes CTEs must reproduce the Spark candidate set
    exactly — count AND membership."""
    import duckdb

    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.similarity import (
        _RHP_CAND_CTE,
        _RHP_CTE,
        _rhp_candidate_pairs,
    )

    big, _ = adaptive_rhp_sf_dir
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM read_parquet("
        f"'{big}/embeddings.parquet/*.parquet')"
    )
    truth = set(
        map(
            tuple,
            con.execute(
                f"WITH {_RHP_CTE}, {_RHP_CAND_CTE} "
                "SELECT vec_id_a, vec_id_b FROM cand"
            ).fetchall(),
        )
    )
    release_family("rhp_sketches")
    try:
        got = {
            (r.vec_id_a, r.vec_id_b)
            for r in _rhp_candidate_pairs(spark, big).collect()
        }
        assert got == truth, (
            len(got), len(truth), sorted(got ^ truth)[:5]
        )
    finally:
        release_family("rhp_sketches")
        con.close()


def test_rhp_sketch_stable_across_corpus_sizes(spark, adaptive_rhp_sf_dir):
    """The 48-bit sketch is a per-vector fingerprint — it must NOT move
    when the corpus grows and the band width adapts (only band codes
    may): shared vectors sketch identically in both fixtures."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.similarity import (
        _rhp_sketches,
    )

    big, small = adaptive_rhp_sf_dir
    release_family("rhp_sketches")
    try:
        s_small = {
            r.vec_id: r.sketch for r in _rhp_sketches(spark, small).collect()
        }
        s_big = {
            r.vec_id: r.sketch
            for r in _rhp_sketches(spark, big).collect()
            if r.vec_id < 128
        }
        assert s_small == s_big
    finally:
        release_family("rhp_sketches")


def test_ann_ivf_scaled_rides_twolevel_and_bounded_probe(
    spark, sf_dir, adaptive_rhp_sf_dir
):
    """Round 8: the dynamic-nlist IVF rides the TWO-LEVEL sample-trained
    build — q_ann_ivf_scaled must (a) return exactly
    q_ann_ivf_twolevel's rows (ONE shared session index, no flat
    dynamic-K build left in the engine), and (b) actually engage the
    dial at volume: at 8192 vectors the index trains N/64 = 128 fine
    centroids and the nprobe=1 probe bucket stays far under the
    fixed-K probe's N/8 scan — the constant-occupancy contract its
    docstring claims."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.similarity import (
        _twolevel_assignment,
        q_ann_ivf_scaled,
        q_ann_ivf_twolevel,
    )

    two = sorted(
        tuple(r) for r in q_ann_ivf_twolevel(spark, sf_dir).collect()
    )
    scaled = sorted(
        tuple(r) for r in q_ann_ivf_scaled(spark, sf_dir).collect()
    )
    assert two == scaled

    big, _ = adaptive_rhp_sf_dir
    release_family("ivf_assignments")
    try:
        a = _twolevel_assignment(spark, big)
        k_live = a.select("cent_id").distinct().count()
        # 128 trained centroids; Lloyd may empty a few, never below the
        # point where the dial is clearly engaged
        assert k_live > 32
        max_bucket = (
            a.groupBy("cent_id").count().agg(F.max("count")).first()[0]
        )
        assert max_bucket < 8192 / 8
    finally:
        release_family("ivf_assignments")


def test_synth_regroup_preserves_values_and_splits(spark, tmp_path):
    """The fixture row-group rewrite must be value-transparent (both
    engines read identical rows) while giving the scan multiple
    row groups to split on — the layout contract the 10x soak relies
    on (SCALING.md round 6)."""
    import sys
    from pathlib import Path

    import duckdb
    import pyarrow.parquet as pq

    sys.path.insert(
        0, str(Path(__file__).resolve().parents[1] / "scripts")
    )
    from synth_scale import _regroup

    p = str(tmp_path / "t.parquet")
    spark.range(0, 200_000).selectExpr(
        "id",
        "CAST(id % 97 AS DOUBLE) AS v",
        # incompressible pad so the file clears several 1 MiB groups
        "sha2(CAST(id AS STRING), 256) AS pad",
        # timestamp column: catalog.table auto-detects the events ts
        # encoding, so the rewrite must preserve it bit-for-bit
        "timestamp_seconds(1500000000 + id % 86400) AS ts",
    ).coalesce(1).write.parquet(str(tmp_path / "w"))
    import glob
    import os

    (part,) = glob.glob(str(tmp_path / "w" / "part-*.parquet"))
    os.replace(part, p)
    probe = (
        f"SELECT COUNT(*), SUM(v), "
        f"md5(string_agg(id::VARCHAR, ',' ORDER BY id)), "
        f"md5(string_agg(ts::VARCHAR, ',' ORDER BY id)) "
        f"FROM read_parquet('{p}')"
    )
    before = duckdb.sql(probe).fetchone()
    schema_before = pq.ParquetFile(p).schema_arrow
    assert pq.ParquetFile(p).metadata.num_row_groups == 1
    _regroup(p)
    assert pq.ParquetFile(p).metadata.num_row_groups > 1
    # schema (incl. Spark's key-value metadata) survives the rewrite —
    # type auto-detection must see the same file either side
    assert pq.ParquetFile(p).schema_arrow.equals(
        schema_before, check_metadata=True
    )
    after = duckdb.sql(probe).fetchone()
    assert before == after
    sdf = spark.read.parquet(p)
    assert sdf.count() == 200_000
    assert dict(sdf.dtypes)["ts"].startswith("timestamp")


def test_rhp_sketch_build_is_spread(spark, sf_dir):
    """The sketch fold — the heaviest per-row expression in the engine —
    must not inherit the fixture's 1-3 scan splits: the persisted frame
    is round-robined across defaultParallelism first."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.similarity import (
        _rhp_sketches,
    )

    release_family("rhp_sketches")
    try:
        df = _rhp_sketches(spark, sf_dir)
        assert (
            df.rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism
        )
    finally:
        release_family("rhp_sketches")
