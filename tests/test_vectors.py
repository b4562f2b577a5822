"""Vector operators: the power-method PCA component is unit-norm,
deterministic and Rayleigh-monotone."""

from __future__ import annotations


def test_pca_power_unit_norm_and_rayleigh_monotone(spark, sf_dir, duck):
    """The power-method result is unit-norm, deterministic, and its
    Rayleigh quotient v'(A'A)v is >= the normalized all-ones start's —
    the per-iteration monotonicity the method guarantees regardless of
    eigengap."""
    import numpy as np

    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.similarity import (
        q_embedding_pca_power,
    )

    rows = q_embedding_pca_power(spark, sf_dir).collect()
    comp = np.array(
        [r["component"] for r in sorted(rows, key=lambda r: r["dim"])]
    )
    assert abs(float(comp @ comp) - 1.0) < 1e-4

    emb = duck.execute(
        "SELECT embedding FROM embeddings ORDER BY vec_id"
    ).fetchnumpy()["embedding"]
    E = np.array(emb.tolist(), dtype=float)
    C = E - E.mean(0)
    S = C.T @ C
    ones = np.ones(C.shape[1]) / np.sqrt(C.shape[1])
    rq = lambda v: float(v @ S @ v)
    assert rq(comp) >= rq(ones) - 1e-6

    again = q_embedding_pca_power(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
