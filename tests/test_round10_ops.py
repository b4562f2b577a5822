"""Round-10 operator tests: delta-only streaming sinks (verdict item
1), streaming index append (item 5), adaptive RHP shard planes (item
4), and residual-PQ multiprobe (item 7)."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.caches import (
    release_family,
)


def _delta_chunks(spark, sf_dir, directory, n_chunks=3):
    """The append-path delta slice written as ``n_chunks`` parquet
    files (the replayable stream source every streaming-twin test
    uses); returns (schema, chunks)."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.catalog import (
        table,
    )
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.similarity import (
        IVF_APPEND_DEN,
        IVF_APPEND_NUM,
    )

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = emb.count()
    t = (IVF_APPEND_NUM * n) // IVF_APPEND_DEN
    delta = emb.filter(F.col("vec_id") >= t)
    rows = delta.collect()
    schema = delta.schema
    per = max(1, len(rows) // n_chunks)
    chunks = [rows[i : i + per] for i in range(0, len(rows), per)]
    for chunk in chunks:
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(directory)
    return schema, chunks


def test_semantic_dedup_stream_sink_equals_batch(spark, sf_dir, tmp_path):
    """Round-10 item 1: the PRODUCTION delta-append sink form of
    semantic_dedup_stream converges to the batch
    q_dedup_ingest_incremental result exactly, and redelivery of a
    whole slice changes nothing after the read-side key dedup — parity
    + redelivery against the file-sink form, per the verdict's done
    bar."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.similarity import (
        q_dedup_ingest_incremental,
    )
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.core import (
        semantic_dedup_stream,
        stream_sink_results,
    )

    directory = str(tmp_path / "vec_replay")
    sink = str(tmp_path / "dedup_sink")
    ckpt = str(tmp_path / "dedup_ckpt")
    schema, chunks = _delta_chunks(spark, sf_dir, directory)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(directory)
    )
    q = semantic_dedup_stream(
        stream, sf_dir, sink_dir=sink, checkpoint_dir=ckpt
    )
    q.processAllAvailable()

    def sink_rows():
        return {
            r.doc_id: (r.cent_id, r.matched_doc_id, r.max_sim)
            for r in stream_sink_results(
                spark, sink, ("doc_id",)
            ).collect()
        }

    expected = {
        r.doc_id: (r.cent_id, r.matched_doc_id, r.max_sim)
        for r in q_dedup_ingest_incremental(spark, sf_dir).collect()
    }
    assert expected, "fixture must produce ingest near-dups"
    assert sink_rows() == expected

    # redeliver the first chunk (at-least-once source): the sink gains
    # duplicate ROWS under a later batch id, but the keyed read-side
    # dedup removes them — results unchanged
    spark.createDataFrame(chunks[0], schema).coalesce(1).write.mode(
        "append"
    ).parquet(directory)
    q.processAllAvailable()
    q.stop()
    assert sink_rows() == expected


def test_ann_serve_stream_sink_equals_batch(spark, sf_dir, tmp_path):
    """Round-10 item 1, serving twin: the delta-append sink form of
    ann_serve_stream matches batch q_ann_serve_incremental exactly and
    survives whole-slice redelivery."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.similarity import (
        q_ann_serve_incremental,
    )
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.core import (
        ann_serve_stream,
        stream_sink_results,
    )

    directory = str(tmp_path / "ann_replay")
    sink = str(tmp_path / "serve_sink")
    ckpt = str(tmp_path / "serve_ckpt")
    schema, chunks = _delta_chunks(spark, sf_dir, directory)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(directory)
    )
    q = ann_serve_stream(
        stream, sf_dir, sink_dir=sink, checkpoint_dir=ckpt
    )
    q.processAllAvailable()

    def sink_rows():
        return {
            (r.q_id, r.rnk): (r.vec_id, r.sim)
            for r in stream_sink_results(
                spark, sink, ("q_id", "rnk")
            ).collect()
        }

    expected = {
        (r.q_id, r.rnk): (r.vec_id, r.sim)
        for r in q_ann_serve_incremental(spark, sf_dir).collect()
    }
    assert expected, "fixture must produce serving answers"
    assert sink_rows() == expected

    spark.createDataFrame(chunks[0], schema).coalesce(1).write.mode(
        "append"
    ).parquet(directory)
    q.processAllAvailable()
    q.stop()
    assert sink_rows() == expected


def test_ivf_index_append_stream_equals_batch(spark, sf_dir, tmp_path):
    """Round-10 item 5: the streaming GROW leg — arriving vectors'
    posting-list assignments streamed through the frozen router —
    matches batch q_ivf_index_append exactly on the same delta slice,
    tolerates whole-slice redelivery, and the drift audit computed OFF
    THE STREAMED INDEX equals the batch q_ivf_drift_audit row."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.similarity import (
        drift_audit_rows,
        q_ivf_drift_audit,
        q_ivf_index_append,
    )
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.core import (
        ivf_index_append_stream,
        stream_sink_results,
    )

    directory = str(tmp_path / "grow_replay")
    sink = str(tmp_path / "grow_sink")
    ckpt = str(tmp_path / "grow_ckpt")
    schema, chunks = _delta_chunks(spark, sf_dir, directory)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(directory)
    )
    q = ivf_index_append_stream(
        stream, sf_dir, sink_dir=sink, checkpoint_dir=ckpt
    )
    q.processAllAvailable()

    def sink_rows():
        return {
            r.vec_id: (r.cent_id, r.shard, round(r.sim, 6))
            for r in stream_sink_results(
                spark, sink, ("vec_id",)
            ).collect()
        }

    expected = {
        r.vec_id: (r.cent_id, r.shard, r.sim)
        for r in q_ivf_index_append(spark, sf_dir).collect()
    }
    assert expected
    assert sink_rows() == expected

    # redeliver the first chunk: identical rows under a later batch id,
    # removed by the keyed read — the grown index is unchanged
    spark.createDataFrame(chunks[0], schema).coalesce(1).write.mode(
        "append"
    ).parquet(directory)
    q.processAllAvailable()
    q.stop()
    assert sink_rows() == expected

    # the "when to rebuild" alarm reads off the streamed index too:
    # drift audit over the sink's raw sims == the batch audit row
    frozen = stream_sink_results(spark, sink, ("vec_id",)).select(
        "vec_id", F.col("sim").alias("sim_frozen")
    )
    streamed = drift_audit_rows(spark, sf_dir, frozen).collect()[0]
    batch = q_ivf_drift_audit(spark, sf_dir).collect()[0]
    assert streamed.asDict() == batch.asDict()


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
                    F.zip_with("qe", "cv", lambda x, y: x - y),
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


def test_delta_sink_batch_replay_idempotent(spark, sf_dir, tmp_path):
    """The sink's OTHER idempotency leg: re-running the same batch id
    (foreachBatch at-least-once restart semantics) overwrites the
    batch's own partition instead of appending a duplicate — file
    count and rows stay identical."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.core import (
        semantic_dedup_batch_fn,
        stream_sink_results,
    )
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.catalog import (
        table,
    )
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.similarity import (
        IVF_APPEND_DEN,
        IVF_APPEND_NUM,
    )

    sink = str(tmp_path / "replay_sink")
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = emb.count()
    t = (IVF_APPEND_NUM * n) // IVF_APPEND_DEN
    batch = emb.filter(F.col("vec_id") >= t)
    fn = semantic_dedup_batch_fn(spark, sf_dir, sink_dir=sink)
    fn(batch, 7)
    first = {
        r.doc_id: (r.cent_id, r.matched_doc_id, r.max_sim)
        for r in stream_sink_results(spark, sink, ("doc_id",)).collect()
    }
    assert first
    fn(batch, 7)  # same batch id replayed
    again = {
        r.doc_id: (r.cent_id, r.matched_doc_id, r.max_sim)
        for r in stream_sink_results(spark, sink, ("doc_id",)).collect()
    }
    assert again == first
    # raw row count (pre-dedup) also unchanged: the partition was
    # overwritten, not appended to
    assert (
        spark.read.parquet(sink).count() == len(first)
    )


def test_bloom_probe_stream_sink_equals_batch(spark, sf_dir, tmp_path):
    """Round-10 item 1 extended to the crawl-dedup stream: the
    delta-append sink form of bloom_probe_stream converges to the
    batch q_dedup_bloom_shingles result exactly, and redelivering a
    whole chunk changes nothing after the read-side doc_id dedup —
    the same O(|batch|)-per-batch contract as the dedup/serve twins
    (the last per-row accumulate-view user in streaming/core)."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.catalog import (
        table,
    )
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.corpus import (
        bloom_bits,
        q_dedup_bloom_shingles,
        shingle_rows,
    )
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.core import (
        bloom_probe_stream,
        stream_sink_results,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    seen_bits = bloom_bits(
        shingle_rows(docs.filter(F.col("doc_id") % 2 == 0))
    ).localCheckpoint(eager=True)
    probe_docs = docs.filter(F.col("doc_id") % 2 == 1)

    directory = str(tmp_path / "docs_replay")
    sink = str(tmp_path / "bloom_sink")
    ckpt = str(tmp_path / "bloom_ckpt")
    rows = probe_docs.collect()
    schema = probe_docs.schema
    per = max(1, len(rows) // 3)
    chunks = [rows[i : i + per] for i in range(0, len(rows), per)]
    for chunk in chunks:
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(directory)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(directory)
    )
    q = bloom_probe_stream(
        stream, seen_bits, sink_dir=sink, checkpoint_dir=ckpt
    )
    q.processAllAvailable()

    def sink_rows():
        return {
            r.doc_id: (r.n_shingles, r.n_seen, r.seen_ratio)
            for r in stream_sink_results(
                spark, sink, ("doc_id",)
            ).collect()
        }

    expected = {
        r.doc_id: (r.n_shingles, r.n_seen, r.seen_ratio)
        for r in q_dedup_bloom_shingles(spark, sf_dir).collect()
    }
    assert expected
    assert sink_rows() == expected

    # source redelivery: identical rows under a later batch id are
    # removed by the read-side key dedup
    spark.createDataFrame(chunks[0], schema).coalesce(1).write.mode(
        "append"
    ).parquet(directory)
    q.processAllAvailable()
    q.stop()
    assert sink_rows() == expected
