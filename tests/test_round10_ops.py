"""Round-10 operator tests: adaptive RHP shard planes (item 4) and
residual-PQ multiprobe (item 7)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.caches import (
    release_family,
)


def test_rhp_frame_plane_append(spark, sf_dir, tmp_path, monkeypatch):
    """Round-10 item 4: a frame built when the shard dial demanded 0
    planes serves a corpus demanding 4 after ONE delta update — the
    update appends ONLY the missing planes (standing band bits are
    byte-identical before/after; no vector re-folds), and the loaded
    slice is bit-identical to the from-scratch fold at the new dial.
    The dial jump is forced by shrinking RHP_SHARD_CAP (the rule, not
    the constant, is the contract); a stale-width load without the
    update raises instead of slicing short."""
    import pytest

    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators import (
        similarity as S,
    )

    store = str(tmp_path / "plane_store")
    r0 = S.rhp_frame_update(spark, sf_dir, store)
    assert r0["shard_planes"] == 0  # sf0.001 sits under the cap
    before = {
        r.vec_id: tuple(r.bits)
        for r in spark.read.parquet(store).collect()
    }

    monkeypatch.setattr(S, "RHP_SHARD_CAP", 32)  # n=500 → 4 shard bits
    assert S.rhp_shard_bits(len(before)) == 4

    # loading the stale store at the new dial must be loud, not short
    with pytest.raises(ValueError, match="shard planes"):
        S.rhp_frame_load(spark, sf_dir, store)

    r1 = S.rhp_frame_update(spark, sf_dir, store)
    assert r1 == {
        "appended": 0,
        "total": len(before),
        "new_planes": 4,
        "shard_planes": 4,
    }
    after = spark.read.parquet(store).collect()
    assert {r.vec_id: tuple(r.bits) for r in after} == before
    assert all(len(r.sbits) == 4 for r in after)

    release_family("rhp_sketches")
    try:
        want = sorted(
            (r.vec_id, tuple(r.bits), tuple(r.sbits))
            for r in S._rhp_bits_frame(spark, sf_dir).collect()
        )
    finally:
        release_family("rhp_sketches")
    got = sorted(
        (r.vec_id, tuple(r.bits), tuple(r.sbits))
        for r in S.rhp_frame_load(spark, sf_dir, store).collect()
    )
    assert got == want


def test_residual_multiprobe_per_cell_luts(spark, sf_dir):
    """Round-10 item 7: the multiprobe residual search really builds
    per-cell LUTs — every candidate row's qrv is exactly qe − cv of
    ITS OWN cell's centroid (recomputed independently here), the probe
    dial is exercised (candidates from ≥ 2 distinct cells), and the
    audit's MSE relationship holds: residual reconstruction ≤
    raw-trained + 10% tolerance (fixture-specific, not an invariant —
    the measured sf0.001 values are residual 0.012208 vs raw 0.012697;
    recall@10 is 1-hit noise on this near-uniform fixture and is NOT
    pinned — q_pq_multiprobe_audit exists to measure it)."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators import (
        similarity as S,
    )

    cand = S._residual_multiprobe_cand(spark, sf_dir)
    cents = S._twolevel_centroids(spark, sf_dir)
    # recover each candidate's cell from the residual frame, then check
    # qrv against an independent qe − cv recompute (same IEEE subtract)
    res = S._pq_residual_frame(spark, sf_dir).select("vec_id", "cent_id")
    bad = (
        cand.join(res, "vec_id")
        .join(cents, "cent_id")
        .select(
            F.exists(
                F.zip_with(
                    "qrv",
                    F.zip_with("qv", "cv", lambda x, y: x - y),
                    lambda a, b: a != b,
                ),
                lambda x: x,
            ).alias("bad")
        )
        .filter("bad")
        .count()
    )
    assert bad == 0
    n_cells = cand.join(res, "vec_id").select("cent_id").distinct().count()
    assert n_cells >= 2, "multiprobe must reach past the home cell"

    rows = {
        r.variant: (r.recall_at_k, r.mse)
        for r in S.q_pq_multiprobe_audit(spark, sf_dir).collect()
    }
    assert set(rows) == {"trained_raw", "residual"}
    assert rows["residual"][1] <= rows["trained_raw"][1] * 1.10
    for recall, _ in rows.values():
        assert 0.0 <= recall <= 1.0
