"""Simulate the driver's correctness harness against the live contract:
vanilla SparkSession (driver-like: Spark 4 defaults, ANSI on), every
``queries()`` entry at the given sf dir vs its ``oracle_sql()`` DuckDB twin.

Usage: python scripts/driver_sim.py [sf_dir] [q_name ...]
       (default /root/testdata/sf0.01, all queries)
Extra args restrict the run to the named queries — for re-measuring a
fixed subset at soak volume without repaying the full registry's wall.
Exit code 0 iff every oracle-backed query matches.
"""

from __future__ import annotations

import os
import sys

import duckdb
from pyspark.sql import SparkSession

sys.path.insert(0, ".")
import __spark_entry__ as e  # noqa: E402
from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.catalog import (  # noqa: E402,E501
    TABLES,
)
from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.plans.registry import (  # noqa: E402,E501
    norm_rows,
)


# Queries whose oracle must NEVER be memo-rewritten: each is the live,
# fully-inlined replay proof of a pipeline every other rider of that
# pipeline reads from a temp table (q_kmeans proves fixed-K training the
# same way by having its own distinct c0..cN chain text).
# q_ivf_index_append joined the set in round 9 when the append chain
# became memoizable (the 30x soak's oracle wall crossed the ~900 s bar
# the round-8 verdict set; the chain replayed live in four oracles at
# ~100-150 s each) — it IS the append pipeline's defining query, so it
# stays the chain's live proof while the riders read mat_append.
_LIVE_PROOFS = frozenset({"q_ann_ivf_twolevel", "q_ivf_index_append"})

_CTE_NAME_RE = None  # compiled lazily in _cte_names


def _cte_names(sql_fragment: str) -> set[str]:
    """CTE names a replacement fragment introduces (``x AS (``)."""
    global _CTE_NAME_RE
    import re

    if _CTE_NAME_RE is None:
        _CTE_NAME_RE = re.compile(r"\b(\w+)\s+AS\s*\(")
    return set(_CTE_NAME_RE.findall(sql_fragment))


def _centroid_memo_rewriter(con):
    """Oracle-side memo (round-7 soak item, extended round 8): the
    two-level dynamic-K assignment chain, the fixed-K training chain,
    the dedup pair chains, and (new) the flat exploded shingle-hash
    relation appear verbatim in several oracles, and at soak volume
    DuckDB re-derives them per query — the replays dominated the 10×
    oracle wall (SCALING.md rounds 6-7). This returns a
    ``rewrite(sql, name)`` that swaps each known chain for a reference
    to a TEMP table CTAS'd ONCE from the *identical* SQL — results are
    bit-equal by construction (same engine, same text, run once), so
    the parity verdicts are unchanged; only repeated derivation is cut.
    Each pipeline keeps one live fully-inlined proof (_LIVE_PROOFS +
    the sql==needle rule below). Opt out with
    SPARK_GRAFT_SIM_NO_ORACLE_MEMO=1; tests/test_oracle_memo.py pins
    memoized == raw on the contract fixture."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators import (  # noqa: E501
        dedup as D,
        similarity as S,
    )

    ev = S._EV_CTE  # noqa: SLF001
    fixed = S._trained_cents_ctes()  # noqa: SLF001
    tl = S._twolevel_assign_ctes()  # noqa: SLF001
    a_fin = f"a_final AS {S._kmeans_assign_sql('cents')}"  # noqa: SLF001
    ap = S._append_assign_ctes()  # noqa: SLF001
    minhash = D._minhash_oracle()  # noqa: SLF001
    hs = D._HS_CTE  # noqa: SLF001
    # (needle, replacement, [(temp_table, create_sql)]) — ORDER MATTERS:
    # the minhash and exact-pairs needles textually CONTAIN the _HS_CTE
    # needle (nested WITH copies), so they must run first; the
    # final-assignment rules run before their chain rules because they
    # memoize one MORE N×K pass. The 10× soaks measured the md5 shingle
    # hashing (_HS_CTE, ~126 s in q_dedup_ngram_jaccard alone), the
    # minhash pair chain (embedded verbatim in 6 oracles) and the
    # k-means replays as the oracle-wall drivers.
    rules = [
        (
            minhash,
            "\n        SELECT doc_id_a, doc_id_b, jaccard"
            " FROM mat_minhash_pairs\n    ",
            [(
                "mat_minhash_pairs",
                f"CREATE TEMP TABLE mat_minhash_pairs AS {minhash}",
            )],
        ),
        (
            D._EXACT_PAIRS_BLOCK,  # noqa: SLF001
            "exact_pairs AS (SELECT doc_id_a, doc_id_b"
            " FROM mat_exact_pairs)",
            [(
                "mat_exact_pairs",
                f"CREATE TEMP TABLE mat_exact_pairs AS WITH "
                f"{D._EXACT_PAIRS_BLOCK} "  # noqa: SLF001
                "SELECT doc_id_a, doc_id_b FROM exact_pairs",
            )],
        ),
        # The FLAT exploded (doc_id, h) shingle relation (round-8 item):
        # the md5-per-shingle fold is the cost, so it is paid once into
        # a flat temp table; ``ne``'s per-doc hash SETS are rebuilt from
        # it by a GROUP BY. The rebuilt list order is unspecified vs the
        # original hs, which is safe because every surviving consumer is
        # order-insensitive (len(list_intersect), list_min folds, n);
        # tests/test_oracle_memo.py pins value-parity. The round-7
        # negative result stands: materializing the LIST-typed hsl (or
        # simhash fingerprints) made readers SLOWER (184->307 s) —
        # list-column temp-table scans lose to recomputation in DuckDB —
        # so the memo is the flat relation, never the lists.
        (
            hs,
            "\n        ne AS (SELECT doc_id, list(h ORDER BY h) AS hs,"
            " COUNT(*) AS n\n               FROM mat_sh GROUP BY doc_id),"
            "\n        sh AS (SELECT doc_id, h FROM mat_sh)\n",
            [(
                "mat_sh",
                f"CREATE TEMP TABLE mat_sh AS WITH {hs} "
                "SELECT doc_id, h FROM sh",
            )],
        ),
        (
            a_fin,
            "a_final AS (SELECT vec_id, v, cent_id FROM mat_a_final)",
            [(
                "mat_a_final",
                f"CREATE TEMP TABLE mat_a_final AS WITH {fixed} "
                f"SELECT q.vec_id, q.v, q.cent_id "
                f"FROM {S._kmeans_assign_sql('cents')} q",  # noqa: SLF001
            )],
        ),
        (
            fixed,
            f"{ev}, cents AS (SELECT cent_id, cv FROM mat_cents)",
            [(
                "mat_cents",
                f"CREATE TEMP TABLE mat_cents AS WITH {fixed} "
                "SELECT cent_id, cv FROM cents",
            )],
        ),
        # the two-level dynamic-K chain (round 8: the only dynamic-K
        # build) — its riders read the once-materialized assignment;
        # q_ann_ivf_twolevel (_LIVE_PROOFS) replays the chain live.
        (
            tl,
            "fa AS (SELECT vec_id, v, cent_id, shard FROM mat_fa)",
            [(
                "mat_fa",
                f"CREATE TEMP TABLE mat_fa AS WITH {tl} "
                "SELECT vec_id, v, cent_id, shard FROM fa",
            )],
        ),
        # the APPEND chain (round 9: the 30x soak's oracle wall crossed
        # the round-8 verdict's ~900 s bar, with this chain replayed
        # live in four oracles at ~100-150 s each). ONE evaluation
        # materializes both ends (bfa + dfa share the whole training/
        # routing prefix, so two CTAS would pay the chain twice);
        # q_ivf_index_append (_LIVE_PROOFS) stays the live replay.
        (
            ap,
            "bfa AS (SELECT vec_id, v, cent_id, shard FROM mat_append"
            " WHERE side = 'b'),\n"
            "        dfa AS (SELECT vec_id, v, cent_id, shard, sim"
            " FROM mat_append WHERE side = 'd')",
            [(
                "mat_append",
                f"CREATE TEMP TABLE mat_append AS WITH {ap} "
                "SELECT 'b' AS side, vec_id, v, cent_id, shard,"
                " CAST(NULL AS DOUBLE) AS sim FROM bfa "
                "UNION ALL "
                "SELECT 'd', vec_id, v, cent_id, shard, sim FROM dfa",
            )],
        ),
    ]
    made: set[str] = set()

    def rewrite(sql: str, name: str = "") -> str:
        if name in _LIVE_PROOFS:
            return sql
        if any(sql.strip() == needle.strip() for needle, _, _ in rules):
            # the query whose oracle IS a memoized chain stays the live
            # fully-un-rewritten proof of that pipeline (q_dedup_minhash,
            # like q_kmeans for centroid training)
            return sql
        for needle, repl, creates in rules:
            if needle in sql:
                # duplicate-CTE guard (round-8 ADVICE): a replacement
                # must not re-introduce a CTE name that still exists
                # OUTSIDE the needle being replaced — that would shadow
                # or collide and silently change what the oracle checks.
                residue = sql.replace(needle, "")
                clash = _cte_names(repl) & _cte_names(residue)
                if clash:
                    raise RuntimeError(
                        f"oracle memo for {name or '<unnamed>'} would "
                        f"duplicate CTE(s) {sorted(clash)}"
                    )
                for tbl, csql in creates:
                    if tbl not in made:
                        con.execute(csql)
                        made.add(tbl)
                sql = sql.replace(needle, repl)
        return sql

    return rewrite


# --- session cache hygiene (round-10 item 2) --------------------------------
# The engine's session caches (shingle hash sets, IVF/k-means index
# parts, RHP bit frames, BPE trainings, growth cells) are per-fixture
# memos shared by every query of their family. Left in place for a
# whole-registry soak they accumulate: the round-9 30x soak measured
# late queries inflating 2-10x (q_contamination_check 194.8 s in-soak
# vs 20.3 s isolated — persisted-frame storage pressure + GC, not the
# plans). The fix: run the registry GROUPED by cache family (a query's
# family = the operator module that defines it — each module builds
# its own memo families in the shared ``caches`` store, and
# sampling/graph ride dedup's shingle memos, so they join that family)
# and release ALL session caches at each family boundary. Clearing is always CORRECT (caches are transparent memos
# that rebuild lazily); grouping makes it also CHEAP — within a family
# the memo is shared, across families it is dead weight. Opt out with
# SPARK_GRAFT_SIM_NO_FAMILY_CLEAR=1 (the pre-round-10 behavior).

_FAMILY_OF_MODULE = {
    # shingle-tier caches live in dedup.py; sampling + graph queries
    # call into dedup's cached tiers, so they run inside that family
    "dedup": "shingle",
    "sampling": "shingle",
    "graph": "shingle",
    "similarity": "vector",  # IVF/k-means/PQ index parts + RHP frames
    "text": "text",  # BPE trainings
    "growth": "growth",  # activity cells
}
# cache-less modules run first (nothing to hold), then each cached
# family contiguously; the vector family (largest persisted state)
# runs last so its frames never sit under anyone else's queries
_FAMILY_ORDER = ["misc", "growth", "text", "shingle", "vector"]


def _family(fn) -> str:
    mod = getattr(fn, "__module__", "").rsplit(".", 1)[-1]
    return _FAMILY_OF_MODULE.get(mod, "misc")


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    cores = os.environ.get("SPARK_GRAFT_SIM_CORES", "8")
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("driver_sim")
        # cosmetic only: keep the per-query progress log parseable
        .config("spark.ui.showConsoleProgress", "false")
    )
    # The contract simulation at sf0.01 stays VANILLA (the driver's own
    # session: Spark defaults, 1g driver heap). For volume soaks (the
    # 10x parity run) the same harness needs a bigger heap — 1g OOMs in
    # HashAggregate spill-reads at 6M-row lineitem — so the knob below
    # raises ONLY the process size, no query-visible semantics.
    mem = os.environ.get("SPARK_GRAFT_SIM_DRIVER_MEM")
    if mem:
        b = b.config("spark.driver.memory", mem)
    # Scan-split knob for scale soaks. The synth fixtures are single flat
    # files (byte-compatible with the driver's layout), so at the default
    # 128m maxPartitionBytes a 10x documents file is still ONE scan task
    # and every map-side explode/regexp/hash pipeline serializes — a
    # fixture artifact a real 10x lake doesn't have (10x data arrives as
    # 10x splits). Setting e.g. 2m makes split count grow with file size,
    # restoring the cluster-realistic scan parallelism. Timing-only: the
    # same value must be used at BOTH scale points of a ratio pair.
    mpb = os.environ.get("SPARK_GRAFT_SIM_MAX_PART_BYTES")
    if mpb:
        b = b.config("spark.sql.files.maxPartitionBytes", mpb)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    df = e.entry(spark)
    print(f"ENTRY: {df.count()} rows :: {df.schema.simpleString()}")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    if os.environ.get("SPARK_GRAFT_SIM_NO_ORACLE_MEMO"):
        rewrite = lambda s, n="": s  # noqa: E731 — the pre-memo baseline path
    else:
        rewrite = _centroid_memo_rewriter(con)

    import time

    qs, osql = e.queries(), e.oracle_sql()
    # SPARK_GRAFT_SIM_SKIP: comma list of queries to EXCLUDE — for
    # scale soaks that drop the two documented-quadratic diagnostics
    # (q_dedup_semdedup is pedagogically quadratic BY DESIGN;
    # q_dedup_simhash_pairs is an O(pairs)-output audit) whose walls
    # would dominate a 100x run without informing the scale grade.
    # Every skip is printed so a soak log can never silently claim
    # full coverage.
    skip = {
        s
        for s in os.environ.get("SPARK_GRAFT_SIM_SKIP", "").split(",")
        if s
    }
    if skip:
        for s in sorted(skip & set(qs)):
            print(f"SKIPPED (SPARK_GRAFT_SIM_SKIP): {s}", file=sys.stderr)
        qs = {k: v for k, v in qs.items() if k not in skip}
    only = set(sys.argv[2:])
    if only:
        unknown = only - set(qs)
        if unknown:
            print(f"unknown queries: {sorted(unknown)}", file=sys.stderr)
            return 2
        qs = {k: v for k, v in qs.items() if k in only}
    fails, lines = [], []

    def emit(msg: str) -> None:
        # stream progress to stderr so long runs (10x parity soaks) are
        # observable while the stdout summary stays one block at the end
        lines.append(msg)
        print(msg, file=sys.stderr, flush=True)

    no_family_clear = bool(
        os.environ.get("SPARK_GRAFT_SIM_NO_FAMILY_CLEAR")
    )
    if no_family_clear:
        ordered = sorted(qs.items())
    else:
        ordered = sorted(
            qs.items(),
            key=lambda kv: (
                _FAMILY_ORDER.index(_family(kv[1])),
                kv[0],
            ),
        )
    fam_last: dict[str, str] = {}
    for name, fn in ordered:
        fam_last[_family(fn)] = name

    def _maybe_clear(name: str, fn) -> None:
        """Release every session cache when ``name`` closes its family
        (always safe — memos rebuild lazily; later families build their
        own). Keeps soak walls readable past 30x (round-10 item 2)."""
        if no_family_clear:
            return
        fam = _family(fn)
        if fam_last.get(fam) != name:
            return
        from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.caches import (  # noqa: E501
            clear_all_session_caches,
        )

        clear_all_session_caches()
        spark.sparkContext._jvm.System.gc()  # noqa: SLF001
        emit(f"## released session caches after family '{fam}'")

    for name, fn in ordered:
        t_q = time.perf_counter()
        try:
            sdf = fn(spark, sf)
            if name not in osql:
                emit(
                    f"{name}: rows-only, {sdf.count()} rows "
                    f"[{time.perf_counter() - t_q:.1f}s]"
                )
                continue
            s_cols, s_rows = norm_rows(sdf.columns, sdf.collect())
            t_spark = time.perf_counter() - t_q
            res = con.execute(rewrite(osql[name], name))
            d_cols, d_rows = norm_rows(
                [c[0] for c in res.description], res.fetchall()
            )
            ok = s_cols == d_cols and s_rows == d_rows
            # total stays the soak_report.py parse target; the
            # spark/oracle split diagnoses WHICH side a slow soak query
            # spends its time in (the 10x embedding-dedup read was the
            # oracle replay, not the Spark plan) without re-running.
            emit(
                f"{name}: {'MATCH' if ok else 'MISMATCH'} "
                f"({len(s_rows)} rows) [{time.perf_counter() - t_q:.1f}s]"
                f" (spark {t_spark:.1f}s, oracle "
                f"{time.perf_counter() - t_q - t_spark:.1f}s)"
            )
            if not ok:
                fails.append(name)
                if s_cols != d_cols:
                    emit(f"  cols spark={s_cols} duck={d_cols}")
                else:
                    diffs = [(a, b) for a, b in zip(s_rows, d_rows) if a != b][:2]
                    emit(f"  first diffs: {diffs}")
        except Exception as ex:  # noqa: BLE001 — report and continue
            fails.append(name)
            emit(f"{name}: ERROR {type(ex).__name__}: {str(ex)[:160]}")
        finally:
            _maybe_clear(name, fn)
    print("\n".join(lines))
    print(f"TOTAL {len(qs)} queries, {len(osql)} oracles, FAILED: {fails or 'none'}")
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
