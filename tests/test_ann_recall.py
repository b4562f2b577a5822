"""IVF recall curve: multi-probe recall@10 against the exact brute-force
top-10 is monotone in nprobe and reaches 1.0 at nprobe=K (scanning every
bucket IS brute force)."""

from __future__ import annotations

from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.similarity import (
    IVF_K,
    ann_ivf_topk,
    q_ann_ivf,
    q_similarity_topk,
)


def test_ivf_recall_monotone_in_nprobe(spark, sf_dir):
    exact = [r["vec_id"] for r in q_similarity_topk(spark, sf_dir).collect()]
    recalls = []
    for nprobe in (1, 3, IVF_K):
        got = {r["vec_id"] for r in ann_ivf_topk(spark, sf_dir, nprobe).collect()}
        recalls.append(len(got & set(exact)) / len(exact))
    assert recalls == sorted(recalls), f"recall not monotone: {recalls}"
    assert recalls[-1] == 1.0, "nprobe=K must equal brute force"
    # nprobe=1 must agree with the registered q_ann_ivf
    reg = [r["vec_id"] for r in q_ann_ivf(spark, sf_dir).collect()]
    one = [r["vec_id"] for r in ann_ivf_topk(spark, sf_dir, 1).collect()]
    assert reg == one


def test_rhp_lsh_pairs_subset_of_bruteforce_with_recall(spark, sf_dir, duck):
    """The banded LSH pair set is a SUBSET of the brute-force cosine pairs
    (the verify step is exact — banding can only lose pairs, never invent
    them) and recall stays above the analytic floor for the band config."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.similarity import (
        NEAR_DUP_COS,
        q_similarity_pairs,
    )

    got = {
        (r["vec_id_a"], r["vec_id_b"])
        for r in q_similarity_pairs(spark, sf_dir).collect()
    }
    truth = {
        (a, b)
        for a, b in duck.execute(f"""
            WITH ev AS (SELECT vec_id,
                               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                        FROM embeddings)
            SELECT a.vec_id, b.vec_id
            FROM ev a JOIN ev b ON a.vec_id < b.vec_id
            WHERE (list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v)))) >= {NEAR_DUP_COS}
        """).fetchall()
    }
    assert got <= truth, f"LSH invented pairs: {sorted(got - truth)[:5]}"
    assert truth, "fixture degenerate: no brute-force pairs at threshold"
    recall = len(got) / len(truth)
    # 8 bands x 6 bits at s=0.35 gives ~0.54 expected band-collision
    # probability; 0.35 is a loose floor against fixture drift
    assert recall >= 0.35, f"LSH recall collapsed: {recall:.3f}"


def test_rhp_lsh_plan_is_bucketed_not_cartesian(spark, sf_dir):
    """The candidate join must be an equi-join on the band bucket — never
    a cartesian/nested-loop, and never blocked on a data attribute."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.similarity import (
        q_similarity_pairs,
    )

    plan = (
        q_similarity_pairs(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_trained_centroids_recall_at_least_pseudo(spark, sf_dir):
    """VERDICT r3 #3: the k-means-trained IVF index must recall at least
    as much as the old vec_id<K pseudo-centroid index at equal nprobe."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.catalog import (
        table,
    )
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.functions.vectors import (
        as_double,
        cosine,
    )
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.similarity import (
        QUERY_VEC_ID,
        TOP_K,
    )

    emb = table(spark, sf_dir, "embeddings")
    ev = emb.select("vec_id", as_double(F.col("embedding")).alias("v"))
    pseudo_cents = ev.filter(F.col("vec_id") < IVF_K).select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("cv")
    )

    def ivf_topk_with(cents, nprobe):
        w = Window.partitionBy("vec_id").orderBy(
            F.desc("sim"), F.asc("cent_id")
        )
        assigned = (
            ev.crossJoin(F.broadcast(cents))
            .withColumn("sim", cosine(F.col("v"), F.col("cv")))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "v", "cent_id")
        )
        q = ev.filter(F.col("vec_id") == QUERY_VEC_ID).select(
            F.col("v").alias("qv")
        )
        qw = Window.orderBy(F.desc("q_sim"), F.asc("cent_id"))
        probes = (
            cents.crossJoin(F.broadcast(q))
            .select(
                "cent_id", cosine(F.col("cv"), F.col("qv")).alias("q_sim")
            )
            .withColumn("rn", F.row_number().over(qw))
            .filter(F.col("rn") <= nprobe)
            .select(F.col("cent_id").alias("q_cent"))
        )
        return {
            r["vec_id"]
            for r in (
                assigned.join(
                    F.broadcast(probes), F.col("cent_id") == F.col("q_cent")
                )
                .filter(F.col("vec_id") != QUERY_VEC_ID)
                .crossJoin(F.broadcast(q))
                .select("vec_id", cosine("v", "qv").alias("sim"))
                .orderBy(F.desc("sim"), F.asc("vec_id"))
                .limit(TOP_K)
                .collect()
            )
        }

    exact = {r["vec_id"] for r in q_similarity_topk(spark, sf_dir).collect()}
    for nprobe in (1, 2):
        trained = ann_ivf_topk(spark, sf_dir, nprobe)
        trained_recall = (
            len({r["vec_id"] for r in trained.collect()} & exact) / len(exact)
        )
        pseudo_recall = (
            len(ivf_topk_with(pseudo_cents, nprobe) & exact) / len(exact)
        )
        assert trained_recall >= pseudo_recall, (
            f"nprobe={nprobe}: trained {trained_recall:.2f} "
            f"< pseudo {pseudo_recall:.2f}"
        )
