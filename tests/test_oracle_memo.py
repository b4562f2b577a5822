"""The soak harness's oracle memo must be value-transparent (round-8
ADVICE): scripts/driver_sim.py textually rewrites oracle SQL onto
once-materialized temp tables, so (a) every oracle the rewriter touches
must return the SAME values memoized and raw on the contract fixture,
and (b) the duplicate-CTE guard must refuse a rewrite that would
re-introduce a CTE name still present outside the replaced chain —
the silent-drift failure mode the rewrite-by-text approach risks."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO / "scripts"))
sys.path.insert(0, str(_REPO))

import driver_sim  # noqa: E402
from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.plans.registry import (  # noqa: E402
    norm_rows,
)

from tests.conftest import SF_DIR  # noqa: E402


def _connect():
    con = duckdb.connect()
    for t in driver_sim.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _rows(con, sql):
    res = con.execute(sql)
    return norm_rows([c[0] for c in res.description], res.fetchall())


def test_memoized_oracles_match_raw():
    """Every oracle the memo rewriter changes returns identical
    (column, value) sets under the memoized and raw forms — the whole
    reason rewrite-by-identical-text is sound, now pinned instead of
    argued."""
    import __spark_entry__ as e

    memo_con = _connect()
    raw_con = _connect()
    rewrite = driver_sim._centroid_memo_rewriter(memo_con)  # noqa: SLF001

    touched = 0
    for name, sql in sorted(e.oracle_sql().items()):
        rewritten = rewrite(sql, name)
        if rewritten == sql:
            continue
        touched += 1
        m_cols, m_rows = _rows(memo_con, rewritten)
        r_cols, r_rows = _rows(raw_con, sql)
        assert m_cols == r_cols, name
        assert m_rows == r_rows, (name, m_rows[:2], r_rows[:2])
    # the memo exists to hit the expensive chain families — if nothing
    # is rewritten the soak optimization silently died
    assert touched >= 10, touched


def test_live_proof_oracle_never_rewritten():
    """q_ann_ivf_twolevel is the designated live replay of the two-level
    chain (the only dynamic-K build since round 8): the rewriter must
    leave it byte-identical even though its oracle contains the memo
    needle."""
    import __spark_entry__ as e

    con = _connect()
    rewrite = driver_sim._centroid_memo_rewriter(con)  # noqa: SLF001
    sql = e.oracle_sql()["q_ann_ivf_twolevel"]
    assert rewrite(sql, "q_ann_ivf_twolevel") == sql
    # ... while the same chain in another rider IS memoized
    rider = e.oracle_sql()["q_ann_ivf_scaled"]
    assert "mat_fa" in rewrite(rider, "q_ann_ivf_scaled")
    # round 9: q_ivf_index_append is the append chain's live proof;
    # its riders read mat_append
    asql = e.oracle_sql()["q_ivf_index_append"]
    assert rewrite(asql, "q_ivf_index_append") == asql
    ing = e.oracle_sql()["q_dedup_ingest_incremental"]
    assert "mat_append" in rewrite(ing, "q_dedup_ingest_incremental")
    srv = e.oracle_sql()["q_ann_serve_incremental"]
    assert "mat_append" in rewrite(srv, "q_ann_serve_incremental")


def test_duplicate_cte_guard_fires():
    """A (hypothetical future) oracle that embeds a memoized chain AND
    separately defines one of the replacement's CTE names must be
    rejected, not silently rewritten into shadowed SQL."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators import (
        dedup as D,
    )

    con = duckdb.connect()
    rewrite = driver_sim._centroid_memo_rewriter(con)  # noqa: SLF001
    sql = (
        f"WITH {D._HS_CTE},"  # noqa: SLF001
        " ne2 AS (SELECT 1 AS x), ne AS (SELECT 2 AS y)"
        " SELECT * FROM ne"
    )
    with pytest.raises(RuntimeError, match="duplicate CTE"):
        rewrite(sql, "q_synthetic_clash")
