"""Round-11 optimization pins: packed PQ scoring must be bit-equal to
the unrolled column form the DuckDB oracles evaluate, as DuckDB
evaluates it."""

from __future__ import annotations

from pyspark.sql import functions as F

from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.catalog import (
    table,
)
from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators import (
    similarity as S,
)


def _packed(emb, cb):
    """{vec_id: (adc, rec, ex)} from the round-11 packed index-aware
    folds over ``emb`` (vec_id, v) with packed codebook column ``cba``
    and query vector vec_id 0."""
    q_row = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    rows = (
        emb.crossJoin(F.broadcast(cb))
        .crossJoin(F.broadcast(q_row))
        .select(
            "vec_id",
            F.expr(S._pq_packed_adc_sql("v", "qv", "cba")),
            F.expr(S._pq_packed_rec_sql("v", "cba")),
            F.expr(S._pq_packed_ex_sql("v", "qv")),
        )
        .collect()
    )
    return {r[0]: tuple(r[1:]) for r in rows}


def _unrolled(duck, ctes, cb_rel, dist_cols):
    """{vec_id: (adc, rec, ex)} from the oracle's unrolled
    d{s}_{k}/g{s}_{k}/ex columns and its ADC / reconstruction readouts,
    as DuckDB evaluates them over the same fixture."""
    rows = duck.execute(f"""
        WITH {ctes},
        q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        dists AS (
            SELECT vec_id, {", ".join(dist_cols)}
            FROM embeddings CROSS JOIN {cb_rel} CROSS JOIN q
        )
        SELECT vec_id, {S._pq_adc_expr()}, {S._pq_rec_sql()}, ex FROM dists
    """).fetchall()
    return {r[0]: tuple(r[1:]) for r in rows}


def _assert_bit_equal(packed, unrolled):
    assert len(packed) == len(unrolled)
    bad = [v for v in unrolled if packed[v] != unrolled[v]]
    assert not bad, [(v, packed[v], unrolled[v]) for v in bad[:3]]


def test_packed_trained_scoring_bit_equals_unrolled(spark, sf_dir, duck):
    """adc/rec/ex from the round-11 packed index-aware folds must be
    BIT-equal (compared with !=, no tolerance) to the oracle's unrolled
    d{s}_{k}/g{s}_{k} column form evaluated by DuckDB over the whole
    fixture, for the trained codebook (each engine trains its own:
    the oracle's training replay must land on the same codewords)."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )
    cb = S._pq_packed_cb(S._pq_trained_codebook(spark, sf_dir), "cba")
    _assert_bit_equal(
        _packed(emb, cb),
        _unrolled(duck, S._pqt_ctes(), "pqcbp", S._pqt_dist_cols()),
    )


def test_packed_anchor_scoring_bit_equals_unrolled(spark, sf_dir, duck):
    """Same pin for the ANCHOR codebook (packed codewords are anchor
    slices) — covers q_pq_train_audit's anchor arm and q_ann_ivf_pq."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )
    anch = ", ".join(
        f"MAX(CASE WHEN vec_id = {k} THEN embedding END) AS a{k}"
        for k in range(S.PQ_K)
    )
    _assert_bit_equal(
        _packed(emb, S._pq_packed_anchor_cb(emb, "cba")),
        _unrolled(
            duck,
            f"anch AS (SELECT {anch} FROM embeddings WHERE vec_id < {S.PQ_K})",
            "anch",
            S._pq_dist_cols(),
        ),
    )


def test_minhash_fold_bit_equals_per_hash_array_mins(spark, sf_dir):
    """The round-11 single-fold minhash signature must be bit-equal to
    the old 16x array_min(transform(...)) form over every non-empty
    fixture shingle set (the precondition every call site enforces)."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.functions.hashing import (
        MINHASH_AB,
        _universal_hash,
        md5_long,
        minhash_signature,
    )
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.functions.text import (
        shingles,
        tokens,
    )

    docs = table(spark, sf_dir, "documents")
    hs = F.array_distinct(
        F.transform(shingles(tokens(F.col("text"))), md5_long)
    )
    base = docs.select("doc_id", hs.alias("hs")).filter(F.size("hs") > 0)
    old = F.array(
        *[
            F.array_min(F.transform(F.col("hs"), _universal_hash(a, b)))
            for a, b in MINHASH_AB
        ]
    )
    bad = (
        base.select(
            minhash_signature(F.col("hs")).alias("new"), old.alias("old")
        )
        .filter(F.col("new") != F.col("old"))
        .count()
    )
    assert bad == 0


def test_packed_adc_tie_break_prefers_smallest_k(spark):
    """The strict-< fold must keep the FIRST (smallest-k) argmin on
    ties — the <=-chain rule of ``_pq_adc_expr`` — including when the
    tie is between later codewords."""
    rows = []
    # cb: one subspace grid (PQ_M identical subspaces so the query runs
    # with the production PQ_M without caring about s) where codewords
    # 1 and 2 tie at distance 0 from the probe vector.
    base = [0.0] * S.PQ_SUB
    off = [1.0] + [0.0] * (S.PQ_SUB - 1)
    cws = [off, base, base, off]  # k=1 and k=2 tie (d=0)
    rows.append((1, [0.0] * S.PCA_DIM, [2.0] * S.PCA_DIM))
    df = spark.createDataFrame(
        rows, "vec_id int, embedding array<double>, qe array<double>"
    ).withColumn(
        "cba",
        F.array(
            *[
                F.array(*[F.lit(cw).cast("array<double>") for cw in cws])
                for _ in range(S.PQ_M)
            ]
        ),
    )
    out = df.select(
        F.expr(S._pq_packed_adc_sql("embedding", "qe", "cba")).alias("adc")
    ).collect()[0]["adc"]
    # argmin is k=1 (first zero-distance codeword); its g per subspace is
    # sum((2-0)^2 * PQ_SUB) = 4*PQ_SUB; summed over PQ_M subspaces.
    assert out == 4.0 * S.PQ_SUB * S.PQ_M
