"""Deduplication operators over the ``documents`` table (SURVEY.md §7
Phase 5; training-data pipeline north star).

Four tiers, each a different cost/recall point at 100 TB:

- exact        : sha256 content key, groupBy — one shuffle on the key.
- n-gram Jaccard: exact pairwise similarity via a shingle inverted-index
  join — exact but quadratic in cluster size; the oracle for the
  approximate tiers.
- MinHash+LSH  : k=16 signatures banded 4×4; only band-collision pairs are
  verified — the linear-ish scale path. Deterministic md5-based hashing so
  the DuckDB oracle reproduces the SAME candidates (functions.hashing).
- SimHash      : 44-bit fingerprints, hamming ≤ 3 via banded chunks.

Everything is built-ins (split/transform/array_min/explode/joins); no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caches import session_memo
from ..catalog import table
from ..functions.hashing import (
    BAND_SIZE,
    MERSENNE_P,
    MINHASH_AB,
    NUM_BANDS,
    md5_long,
    md5_long_sql,
    minhash_signature,
)
from ..functions.text import (
    shingles,
    shingles_ordered,
    shingles_ordered_sql,
    shingles_sql,
    tokens,
)
from ..plans.registry import register

JACCARD_THRESHOLD = 0.8

# Shingles appearing in more than this many documents are dropped from
# the exact tier's INVERTED INDEX (candidate generation only —
# verification still intersects the full shingle sets, so any surviving
# pair's Jaccard is exact). Pair fan-out per shingle is then bounded by
# cap² instead of df²: the skew wall the round-3 audit flagged. A pair
# is lost only if EVERY shared shingle is corpus-hot — for Jaccard ≥ 0.8
# that means a document made almost entirely of boilerplate, which the
# repetition / blocklist gates remove upstream. Fixture max df is 25
# (sf0.1), so the cap is inert at test scale and both engines replay it
# identically.
JACCARD_DF_CAP = 64


@register(
    "q_dedup_exact",
    tags=("dedup", "hash"),
    oracle="""
        SELECT doc_id, sha256(text) AS content_key,
               CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY sha256(text))
                    THEN 1 ELSE 0 END AS is_kept
        FROM documents
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: sha256 content key; keeper = lowest doc_id per key.
    At 100 TB this is one hash-shuffle on a 32-byte key — the key (not the
    document) is what moves. sha256 (not xxhash64) so the oracle computes
    identical keys."""
    docs = table(spark, sf_dir, "documents")
    w_key = F.sha2(F.col("text"), 256)
    from pyspark.sql import Window

    return docs.select(
        "doc_id",
        w_key.alias("content_key"),
        F.when(
            F.col("doc_id")
            == F.min("doc_id").over(Window.partitionBy(w_key)),
            1,
        )
        .otherwise(0)
        .alias("is_kept"),
    )


@session_memo("dedup_shingle_hashsets")
def _hashed_shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, hs: array<long>, n) — the distinct md5-hashed 3-word
    shingles of each document as ONE row per doc, persisted.

    This is the shared core of both near-dup tiers: shingling + hashing is
    by far the most expensive expression in the pipeline, and the queries
    reference it from several plan branches (signature, candidate
    verification ×2, set sizes). One cached doc-level table means it is
    computed exactly once; the cached form is compact (≈50 longs per doc —
    orders of magnitude smaller than the exploded string shingles), so at
    cluster scale this is a per-executor columnar cache, not a broadcast.
    Docs with fewer than k words (empty shingle set) are excluded — they
    can participate in no pair, and their null minhashes would otherwise
    band together."""
    docs = table(spark, sf_dir, "documents")
    # Low-SF local files arrive as a single split; fan the expensive
    # expression work (shingle + md5 per doc) across the cluster. At
    # real scale the file splits already provide parallelism and this
    # branch is a no-op — no gratuitous full shuffle of 100 TB.
    # (inputFiles(), not rdd.getNumPartitions(): the latter forces
    # physical planning and costs seconds of driver time.)
    par = spark.sparkContext.defaultParallelism
    if len(docs.inputFiles()) < par:
        docs = docs.repartition(par)
    # sorted at build: set semantics are order-insensitive everywhere
    # (intersect/min/explode), and the prefix tier's per-query
    # array_sort becomes a free slice of the cached form
    hs = F.array_sort(
        F.array_distinct(
            F.transform(shingles(tokens(F.col("text"))), md5_long)
        )
    )
    # ROUND-10 OPTIMIZATION (guide §2.4/§5 — one materialization, not
    # two): `base` used to be a SECOND persisted frame whose only job
    # was (a) evaluating the shingle+md5 expression once and (b)
    # acting as a projection-collapse barrier — without a barrier
    # Catalyst inlines `hs` into every downstream expression (16
    # signature mins would each re-shingle the document; measured
    # ~16× slower). A Generate node is the same barrier for free:
    # explode(array(hs)) evaluates the pipeline ONCE per row and
    # downstream projections reference the generator's output
    # attribute, which CollapseProject cannot inline (plan proof:
    # the enriched build contains exactly one md5() per Generate
    # branch, plans/r10/cache_build_after.txt). The hot-list branch
    # re-derives `hs` once more instead of reading a cache — at
    # fixture scale that is cheaper than the cache write it replaces
    # (build 1.40 s -> 0.93 s min-of-3 at sf0.1), and at 100 TB it
    # removes a corpus-sized executor cache that was read twice and
    # never touched again (guide §5: cache only when reuse outweighs
    # the memory pressure).
    gen = docs.select("doc_id", F.explode(F.array(hs)).alias("hs"))
    # Round-11 examined-and-rejected: a `gen.repartition(par,
    # "doc_id")` ABOVE the derivation makes the hot-list branch and
    # the enriched branch share one ReusedExchange (derive the
    # shingle pipeline once instead of twice), but the slim-row
    # shuffle measured SLOWER than the re-derivation it saves —
    # steady-state rebuild 0.97-1.11 s -> 1.44 s at sf0.1 (min of 5
    # warm rebuilds, both directions measured). The two-derivation
    # form stays; OPTIMIZATION_r11.md records both numbers.
    sig = minhash_signature(F.col("hs"))
    # hs_idx: the DF-CAPPED index view of hs — shingles whose corpus
    # document frequency exceeds JACCARD_DF_CAP removed via one
    # array_except against the (tiny, broadcast) hot list. Computed
    # here, at index-build time, so the exact tier's self-join reads
    # it as a cache column instead of re-deriving the df aggregation
    # on both sides of the join (measured 3.4× slower that way).
    hot_arr = (
        gen.select(F.explode("hs").alias("h"))
        .groupBy("h")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > JACCARD_DF_CAP)
        .agg(F.collect_list("h").alias("hot"))
    )
    return (
        gen.filter(F.size("hs") > 0)
        .crossJoin(F.broadcast(hot_arr))
        .select(
            "doc_id",
            "hs",
            F.size("hs").alias("n"),
            sig.alias("sig"),
            F.array_except("hs", "hot").alias("hs_idx"),
        )
        .persist()
    )


_HS_CTE = f"""
        w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        hsl AS (
            SELECT doc_id,
                   list_distinct(list_transform({shingles_sql('words')},
                                 s -> {md5_long_sql('s')})) AS hs
            FROM w
        ),
        ne AS (
            SELECT doc_id, hs, len(hs) AS n FROM hsl WHERE len(hs) > 0
        ),
        sh AS (SELECT doc_id, unnest(hs) AS h FROM ne)
"""


@register(
    "q_dedup_ngram_jaccard",
    headline=True,
    tags=("dedup", "jaccard"),
    oracle=f"""
        WITH {_HS_CTE},
        hot AS (
            SELECT h FROM sh GROUP BY h HAVING COUNT(*) > {JACCARD_DF_CAP}
        ),
        idx AS (
            SELECT doc_id, h FROM sh ANTI JOIN hot USING (h)
        ),
        cand AS (
            SELECT DISTINCT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b
            FROM idx x JOIN idx y
              ON x.h = y.h AND x.doc_id < y.doc_id
        ),
        verified AS (
            SELECT c.doc_id_a, c.doc_id_b,
                   len(list_intersect(sa.hs, sb.hs)) AS c,
                   sa.n AS na, sb.n AS nb
            FROM cand c
            JOIN ne sa ON c.doc_id_a = sa.doc_id
            JOIN ne sb ON c.doc_id_b = sb.doc_id
        )
        SELECT doc_id_a, doc_id_b,
               ROUND(c * 1.0 / (na + nb - c), 6) AS jaccard
        FROM verified
        WHERE c * 1.0 / (na + nb - c) >= {JACCARD_THRESHOLD}
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs: 3-word-shingle Jaccard ≥ 0.8 via an inverted-
    index self-join (pairs must share ≥1 shingle — never all-pairs). The
    index is built over the 44-bit shingle hashes, not the strings — the
    join key and shuffle payload are 8-byte longs.

    SKEW HARDENING (round 4): shingles with document frequency >
    {JACCARD_DF_CAP} are dropped from the index before the pair join
    (the ``hs_idx`` cache column — the hot list is built once at
    index-build time and applied as a per-row array_except, so this
    query's plan shape is unchanged from the uncapped form), bounding
    per-shingle pair fan-out by cap². Candidates are then verified
    EXACTLY against the full cached shingle arrays (same shape as the
    MinHash tier's verify), so the reported Jaccard is unaffected by the
    cap. The oracle replays the identical capped pipeline. Recall-vs-cap
    is pinned by tests/test_skew.py (planted hot shingles)."""
    hdf = _hashed_shingle_sets(spark, sf_dir)
    idx = hdf.select("doc_id", F.explode("hs_idx").alias("h"))
    a = idx.alias("a")
    b = idx.alias("b")
    # ROUND-10 OPTIMIZATION (guide §2.3/§2.4 — dedup where it is cheap):
    # the candidate stream used to be .distinct()-ed BEFORE verification
    # — a full exchange + two hash aggregates over every raw collision
    # pair that, measured at sf0.1, removed only ~11% duplicates
    # (1.27M -> 1.13M; the df cap already bounds per-shingle fan-out, so
    # most pairs share exactly one index shingle). The distinct now runs
    # AFTER the jaccard filter, on the survivor stream (~hundreds of
    # rows), where it costs nothing. Duplicate candidate rows carry
    # identical (ids, rounded jaccard), so the final distinct yields the
    # same row set; verification work rises by the same ~11% the early
    # exchange used to remove — a strict win at every scale.
    cand = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
    )
    sa = hdf.select(
        F.col("doc_id").alias("doc_id_a"),
        F.col("hs").alias("hs_a"),
        F.col("n").alias("na"),
    )
    sb = hdf.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("hs").alias("hs_b"),
        F.col("n").alias("nb"),
    )
    c = F.size(F.array_intersect("hs_a", "hs_b"))
    jac = c / (F.col("na") + F.col("nb") - c)
    # no broadcast hint: AQE broadcasts these at test scale from runtime
    # stats and falls back to shuffle joins when the doc table outgrows
    # the broadcast limit — a forced broadcast of every document would
    # cap the operator at the 8 GB broadcast ceiling.
    return (
        cand.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .filter(jac >= JACCARD_THRESHOLD)
        .select(
            "doc_id_a", "doc_id_b", F.round(jac, 6).alias("jaccard")
        )
        .distinct()
    )


def _minhash_cand_cte() -> str:
    """WITH-clause body through ``cand`` (the banded LSH candidate pairs)
    — shared by the Jaccard and containment verifiers."""
    sig_cols = ",\n                   ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {MERSENNE_P}))"
        f" AS s{i}"
        for i, (a, b) in enumerate(MINHASH_AB)
    )
    band_selects = "\n            UNION ALL\n            ".join(
        "SELECT doc_id, {b} AS band, {key} AS band_key FROM sig".format(
            b=b,
            key=" || '_' || ".join(
                f"CAST(s{b * BAND_SIZE + j} AS VARCHAR)" for j in range(BAND_SIZE)
            ),
        )
        for b in range(NUM_BANDS)
    )
    return f"""{_HS_CTE},
        sig AS (
            SELECT doc_id,
                   {sig_cols}
            FROM ne
        ),
        bands AS (
            {band_selects}
        ),
        cand AS (
            SELECT DISTINCT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b
            FROM bands x JOIN bands y
              ON x.band = y.band AND x.band_key = y.band_key
             AND x.doc_id < y.doc_id
        )"""


def _minhash_oracle() -> str:
    return f"""
        WITH {_minhash_cand_cte()},
        verified AS (
            SELECT c.doc_id_a, c.doc_id_b,
                   len(list_intersect(sa.hs, sb.hs)) AS c,
                   sa.n AS na, sb.n AS nb
            FROM cand c
            JOIN ne sa ON c.doc_id_a = sa.doc_id
            JOIN ne sb ON c.doc_id_b = sb.doc_id
        )
        SELECT doc_id_a, doc_id_b,
               ROUND(c * 1.0 / (na + nb - c), 6) AS jaccard
        FROM verified
        WHERE c * 1.0 / (na + nb - c) >= {JACCARD_THRESHOLD}
    """


def lsh_band_rows(sig_df: DataFrame, band_size: int = BAND_SIZE) -> DataFrame:
    """(doc_id, band, band_key) — one row per LSH band, band_key the
    '_'-joined band slice of the signature: len(MINHASH_AB) // band_size
    bands of ``band_size`` minhashes, the banding ``_minhash_cand_cte``
    (default size) and ``_band_cand_sql`` replay in SQL."""
    return sig_df.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "_",
                            *[
                                F.element_at(
                                    "sig", b * band_size + j + 1
                                ).cast("string")
                                for j in range(band_size)
                            ],
                        ).alias("band_key"),
                    )
                    for b in range(len(MINHASH_AB) // band_size)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.band_key")


def lsh_candidates_raw(
    sig_df: DataFrame, band_size: int = BAND_SIZE
) -> DataFrame:
    """Band-collision pairs (doc_id_a < doc_id_b) WITHOUT the distinct —
    one row per shared band (a pair colliding in k bands appears k
    times, k ≤ NUM_BANDS). Cost is O(docs × bands) keyed on
    (band, band_key) — never an all-pairs join.
    ROUND-10 OPTIMIZATION (guide §2.3/§2.4): verifiers whose per-pair
    output is deterministic defer the dedup to the (tiny) survivor
    stream instead of paying a full exchange + two hash aggregates over
    every collision here — measured 1.06 s → 0.49 s for q_dedup_minhash
    at sf0.1 (duplication factor 2.1, candidate count 14.7k; the
    deferred exchange cost more than double-verification).

    Duplication-vs-scale (round-11, the round-10 ADVICE item): the
    factor is 2.12 at sf0.1 (14.7k raw / 6.9k distinct) and 2.20 at the
    10× documents fixture (157k / 71k) — stable, because near-dup pair
    DENSITY is what drives it and the corpus's pair count scales
    linearly. Break-even: the deferred form re-verifies each pair once
    per colliding band, hard-capped at NUM_BANDS (4); even at the cap
    the extra work is ≤ NUM_BANDS× verification of TRUE near-dups only
    (high-k collisions are almost always real matches), while the
    removed exchange was paid over EVERY collision. The raw path loses
    only on corpora where survivors ≈ candidates (dup-heavy, e.g.
    verbatim-clone fixtures: the round-9 synth_scale first cut measured
    exactly that failure — every vector a 10-deep exact-dup clique) AND
    most pairs collide in most bands; there, reinstate
    :func:`lsh_candidates` (distinct-early) for the affected verifier.
    """
    bands = lsh_band_rows(sig_df, band_size)
    # rename-then-join-on-key-list: sidesteps self-join attribute
    # ambiguity (both sides share one lineage); the a < b filter is
    # pushed into the sort-merge join condition by Catalyst
    x = bands.withColumnRenamed("doc_id", "doc_id_a")
    y = bands.withColumnRenamed("doc_id", "doc_id_b")
    return (
        x.join(y, ["band", "band_key"])
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .select("doc_id_a", "doc_id_b")
    )


def lsh_candidates(sig_df: DataFrame, band_size: int = BAND_SIZE) -> DataFrame:
    """Distinct band-collision pairs (doc_id_a < doc_id_b) over a
    (doc_id, sig) table — the candidate generator skew audits count
    independently of verification (tests/test_skew.py plants a
    degenerate corpus where one band key captures 10% of docs and pins
    the candidate count at exactly the hot clique, not x NUM_BANDS).
    The verifying tiers ride :func:`lsh_candidates_raw` and dedup
    survivors instead."""
    return lsh_candidates_raw(sig_df, band_size).distinct()


@register(
    "q_dedup_minhash",
    headline=True,
    tags=("dedup", "minhash", "lsh", "scale"),
    oracle=_minhash_oracle(),
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup: 16 minhashes banded 4×4; only band-collision
    candidates get exact Jaccard verification (≥ 0.8 emitted). This is the
    100 TB path: cost is O(docs × bands) for the candidate join instead of
    an inverted-index join whose hot-shingle skew explodes quadratically.
    The oracle replays the IDENTICAL pipeline in SQL (same md5-derived
    hashes, same band keys), so candidates — not just survivors — must
    agree across engines."""
    # Signatures come per-row from the cached hashed-shingle table (see
    # _hashed_shingle_sets) — no explode+groupBy shuffle at all; the only
    # shuffles in the whole query are the LSH band join and the candidate
    # verification joins.
    hdf = _hashed_shingle_sets(spark, sf_dir)
    # ROUND-10 OPTIMIZATION (guide §2.3/§2.4, same rationale and
    # measurement family as q_dedup_ngram_jaccard): candidates arrive
    # RAW (one row per shared band, duplication ≤ NUM_BANDS, measured
    # 2.1× at sf0.1) and the distinct runs on the survivor stream —
    # duplicate candidates verify to identical (ids, rounded jaccard)
    # rows, so the final row set is unchanged (oracle MATCH), while the
    # full exchange + two hash aggregates over every collision pair are
    # skipped (measured 1.06 s → 0.49 s at sf0.1).
    # ``lsh_candidates`` keeps the distinct form — it is the pinned
    # audit surface for candidate COUNTS (tests/test_skew.py).
    cand = lsh_candidates_raw(hdf)
    # Exact verification of candidates only: join each candidate pair back
    # to the doc-level hashed sets and intersect the ARRAYS — join
    # cardinality is one row per candidate pair (vs one per shingle
    # occurrence in an exploded-index verify), and both joins are plain
    # doc_id equi-joins that scale as shuffle-hash joins at 100 TB.
    ha = hdf.select(F.col("doc_id").alias("doc_id_a"), F.col("hs").alias("hs_a"), F.col("n").alias("na"))
    hb = hdf.select(F.col("doc_id").alias("doc_id_b"), F.col("hs").alias("hs_b"), F.col("n").alias("nb"))
    # no broadcast hint — see q_dedup_ngram_jaccard's verification note
    verified = (
        cand.join(ha, "doc_id_a")
        .join(hb, "doc_id_b")
        .withColumn("c", F.size(F.array_intersect("hs_a", "hs_b")))
    )
    jac = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        verified.filter(jac >= JACCARD_THRESHOLD)
        .select("doc_id_a", "doc_id_b", F.round(jac, 6).alias("jaccard"))
        .distinct()
    )


CONTAINMENT_THRESHOLD = 0.9


@register(
    "q_dedup_containment",
    tags=("dedup", "minhash", "lsh", "containment"),
    oracle=f"""
        WITH {_minhash_cand_cte()},
        verified AS (
            SELECT c.doc_id_a, c.doc_id_b,
                   len(list_intersect(sa.hs, sb.hs)) AS c,
                   sa.n AS na, sb.n AS nb
            FROM cand c
            JOIN ne sa ON c.doc_id_a = sa.doc_id
            JOIN ne sb ON c.doc_id_b = sb.doc_id
        )
        SELECT doc_id_a, doc_id_b,
               ROUND(c * 1.0 / LEAST(na, nb), 6) AS containment,
               ROUND(c * 1.0 / (na + nb - c), 6) AS jaccard
        FROM verified
        WHERE c * 1.0 / LEAST(na, nb) >= {CONTAINMENT_THRESHOLD}
    """,
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup: containment |A∩B| / min(|A|,|B|) ≥ 0.9 —
    catches subset/superset duplication (a document embedded inside a
    longer one) that symmetric Jaccard misses, the case that dominates
    real crawl corpora (boilerplate-wrapped reposts). Candidates come from
    the SAME banded MinHash join as q_dedup_minhash (via the shared
    :func:`lsh_candidates_raw` — one candidate generator for every
    verifier); only the verification predicate differs, so the marginal
    cost of running both tiers over 100 TB is one extra filter over the
    already-joined candidate rows. Jaccard is emitted alongside so
    downstream can distinguish true near-dups from containment-only
    pairs. Candidates arrive RAW (distinct deferred to survivors — see
    q_dedup_minhash's round-10 note; identical rows, one exchange
    saved)."""
    hdf = _hashed_shingle_sets(spark, sf_dir)
    cand = lsh_candidates_raw(hdf)
    ha = hdf.select(
        F.col("doc_id").alias("doc_id_a"),
        F.col("hs").alias("hs_a"),
        F.col("n").alias("na"),
    )
    hb = hdf.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("hs").alias("hs_b"),
        F.col("n").alias("nb"),
    )
    verified = (
        cand.join(ha, "doc_id_a")
        .join(hb, "doc_id_b")
        .withColumn("c", F.size(F.array_intersect("hs_a", "hs_b")))
    )
    cont = F.col("c") / F.least("na", "nb")
    jac = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        verified.filter(cont >= CONTAINMENT_THRESHOLD)
        .select(
            "doc_id_a",
            "doc_id_b",
            F.round(cont, 6).alias("containment"),
            F.round(jac, 6).alias("jaccard"),
        )
        .distinct()
    )


SIMHASH_BITS = 44
SIMHASH_CHUNKS = 4
SIMHASH_CHUNK_BITS = 11
HAMMING_MAX = 3


def _simhash_votes(words: F.Column) -> F.Column:
    """Per-bit ±1 vote sums (array<long> of length SIMHASH_BITS) over the
    md5-hashes of an array<string> of words. Bit masks are Python-literal
    (1 << j) constants — Spark's shiftright() only takes literal shift
    amounts, so the 44 bit tests are generated by a Python loop instead of
    a nested transform."""
    hs = F.transform(words, lambda w: md5_long(w))
    zeros = F.array_repeat(F.lit(0).cast("long"), SIMHASH_BITS)

    def add_word(acc: F.Column, h: F.Column) -> F.Column:
        bits = F.array(
            *[
                F.when(h.bitwiseAND(F.lit(1 << j)) != 0, F.lit(1))
                .otherwise(F.lit(-1))
                .cast("long")
                for j in range(SIMHASH_BITS)
            ]
        )
        return F.zip_with(acc, bits, lambda a, v: a + v)

    return F.aggregate(hs, zeros, add_word)


def _votes_to_simhash(votes: F.Column) -> F.Column:
    """Reassemble sign bits into the 44-bit fingerprint."""
    terms = [
        F.when(F.element_at(votes, j + 1) > 0, F.lit(1 << j))
        .otherwise(F.lit(0))
        .cast("long")
        for j in range(SIMHASH_BITS)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


_SIMHASH_SQL = f"""
        w AS (
            SELECT doc_id, list_distinct(string_split(text, ' ')) AS words
            FROM documents
        ),
        hv AS (
            SELECT doc_id,
                   list_transform(words, s -> {md5_long_sql('s')}) AS hs
            FROM w
        ),
        votes AS (
            SELECT doc_id,
                   list_transform(
                       range(0, {SIMHASH_BITS}),
                       j -> list_sum(list_transform(hs,
                            h -> CASE WHEN (h >> j) & 1 = 1
                                      THEN 1 ELSE -1 END))
                   ) AS v
            FROM hv
        ),
        fp AS (
            SELECT doc_id,
                   CAST(list_sum(list_transform(
                       range(0, {SIMHASH_BITS}),
                       j -> CASE WHEN v[j + 1] > 0
                                 THEN (CAST(1 AS BIGINT) << j)
                                 ELSE 0 END)) AS BIGINT) AS simhash
            FROM votes
        )
"""


@register(
    "q_dedup_simhash",
    tags=("dedup", "simhash"),
    oracle=f"WITH {_SIMHASH_SQL} SELECT doc_id, simhash FROM fp",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 44-bit SimHash fingerprint (distinct-word votes) —
    built-ins only (transform/zip_with/aggregate fold), reproduced exactly
    by the oracle's list_transform/list_sum pipeline. Votes materialize in
    an intermediate projection so the fold isn't re-expanded 44× by the
    bit-reassembly expressions."""
    docs = table(spark, sf_dir, "documents")
    words = F.array_distinct(tokens(F.col("text")))
    votes = docs.select("doc_id", _simhash_votes(words).alias("v"))
    return votes.select(
        "doc_id", _votes_to_simhash(F.col("v")).alias("simhash")
    )


@register(
    "q_dedup_simhash_pairs",
    tags=("dedup", "simhash", "lsh"),
    oracle=f"""
        WITH {_SIMHASH_SQL},
        chunks AS (
            SELECT doc_id, simhash, c,
                   (simhash >> (c * {SIMHASH_CHUNK_BITS})) & {(1 << SIMHASH_CHUNK_BITS) - 1} AS chunk_val
            FROM fp, range(0, {SIMHASH_CHUNKS}) t(c)
        ),
        cand AS (
            SELECT DISTINCT x.doc_id AS doc_id_a, x.simhash AS ha,
                            y.doc_id AS doc_id_b, y.simhash AS hb
            FROM chunks x JOIN chunks y
              ON x.c = y.c AND x.chunk_val = y.chunk_val
             AND x.doc_id < y.doc_id
        )
        SELECT doc_id_a, doc_id_b,
               bit_count(xor(ha, hb)) AS hamming
        FROM cand
        WHERE bit_count(xor(ha, hb)) <= {HAMMING_MAX}
    """,
)
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: hamming ≤ 3 over 44 bits. Pigeonhole
    banding — 4 chunks of 11 bits; any pair within hamming 3 shares ≥1
    exact chunk — makes the candidate join an equi-join (the scale path),
    then the exact popcount filter runs on candidates only.

    AUDIT variant: the output is the FULL pair list, which grows with
    the corpus's true near-dup density (17.5× for 10× docs in the
    round-6 soak) — fine for inspection, not a 100 TB output contract.
    The production form is ``q_dedup_simhash_best`` (O(docs) output)."""
    return _simhash_pairs_frame(spark, sf_dir)


@session_memo("dedup_shingle_hashsets")
def _simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fingerprints persist through the shared cache: the 44-bit vote fold
    # is the costliest expression in the module and the pair self-join
    # references it from both sides.
    return q_dedup_simhash(spark, sf_dir).persist()


def _simhash_pairs_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    fp = _simhash_fingerprints(spark, sf_dir)
    chunk_rows = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("c"),
                        F.shiftright(F.col("simhash"), c * SIMHASH_CHUNK_BITS)
                        .bitwiseAND(F.lit((1 << SIMHASH_CHUNK_BITS) - 1))
                        .alias("chunk_val"),
                    )
                    for c in range(SIMHASH_CHUNKS)
                ]
            )
        ).alias("ch"),
    ).select("doc_id", "simhash", "ch.c", "ch.chunk_val")
    x = chunk_rows.alias("x")
    y = chunk_rows.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.c") == F.col("y.c"))
            & (F.col("x.chunk_val") == F.col("y.chunk_val"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_id_a"),
            F.col("x.simhash").alias("ha"),
            F.col("y.doc_id").alias("doc_id_b"),
            F.col("y.simhash").alias("hb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return cand.filter(hamming <= HAMMING_MAX).select(
        "doc_id_a", "doc_id_b", hamming.alias("hamming")
    )


@register(
    "q_dedup_simhash_best",
    tags=("dedup", "simhash", "lsh", "scale"),
    oracle=f"""
        WITH {_SIMHASH_SQL},
        chunks AS (
            SELECT doc_id, simhash, c,
                   (simhash >> (c * {SIMHASH_CHUNK_BITS})) & {(1 << SIMHASH_CHUNK_BITS) - 1} AS chunk_val
            FROM fp, range(0, {SIMHASH_CHUNKS}) t(c)
        ),
        cand AS (
            SELECT DISTINCT x.doc_id AS doc_id_a, x.simhash AS ha,
                            y.doc_id AS doc_id_b, y.simhash AS hb
            FROM chunks x JOIN chunks y
              ON x.c = y.c AND x.chunk_val = y.chunk_val
             AND x.doc_id < y.doc_id
        ),
        pairs AS (
            SELECT doc_id_a, doc_id_b,
                   bit_count(xor(ha, hb)) AS hamming
            FROM cand
            WHERE bit_count(xor(ha, hb)) <= {HAMMING_MAX}
        ),
        ranked AS (
            SELECT doc_id_b AS doc_id, doc_id_a AS kept_doc_id, hamming,
                   ROW_NUMBER() OVER (
                       PARTITION BY doc_id_b ORDER BY hamming, doc_id_a
                   ) AS rn
            FROM pairs
        )
        SELECT doc_id, kept_doc_id, hamming FROM ranked WHERE rn = 1
    """,
)
def q_dedup_simhash_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash PRODUCTION form: per-document BEST MATCH — each near-dup
    document appears exactly once with its closest keeper, so the output
    is O(docs) no matter how dense the duplicate cliques are (the pair
    list grew 17.5× for 10× docs in the round-6 soak; this form cannot).
    Keep/drop follows the dedup-tier convention (``q_dedup_exact`` /
    ``q_dedup_semdedup``): of any qualifying pair (a < b), b is the drop
    candidate; its keeper is the partner with minimum hamming distance
    (ties to the smallest id), so removal lists compose across tiers.

    Plan: same banded equi-join candidates as the audit variant, then a
    partial-aggregable ``min(struct(hamming, doc_id_a))`` per drop id —
    a map-side-combine groupBy, NOT a window sort: at 100 TB the
    reduction happens before the shuffle, and no per-key sort is paid."""
    pairs = _simhash_pairs_frame(spark, sf_dir)
    best = F.min(F.struct(F.col("hamming"), F.col("doc_id_a"))).alias("b")
    return (
        pairs.groupBy(F.col("doc_id_b").alias("doc_id"))
        .agg(best)
        .select(
            "doc_id",
            F.col("b.doc_id_a").alias("kept_doc_id"),
            F.col("b.hamming").alias("hamming"),
        )
    )


@register(
    "q_dedup_jaccard_prefix",
    headline=True,
    tags=("dedup", "jaccard", "prefix-filter", "scale"),
    oracle=f"""
        WITH {_HS_CTE},
        inter AS (
            SELECT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b,
                   COUNT(*) AS c
            FROM sh x JOIN sh y
              ON x.h = y.h AND x.doc_id < y.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_id_a, doc_id_b,
               ROUND(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
        FROM inter
        JOIN ne sa ON inter.doc_id_a = sa.doc_id
        JOIN ne sb ON inter.doc_id_b = sb.doc_id
        WHERE c * 1.0 / (sa.n + sb.n - c) >= {JACCARD_THRESHOLD}
    """,
)
def q_dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard ≥ 0.8 pairs via PREFIX FILTERING (AllPairs/PPJoin
    family): order every document's shingle set by global token frequency
    (rarest first) and index only the first ``n - ceil(t*n) + 1`` tokens.
    Any pair with Jaccard ≥ t must collide inside these prefixes, so the
    inverted index shrinks ~5× at t=0.8 and — because prefixes hold each
    document's RAREST tokens — the hot-shingle skew that makes the naive
    index quadratic is filtered out by construction. Candidates are then
    verified exactly on the cached doc-level sets. The oracle is the
    plain full-index pipeline: identical output, different (cheaper)
    candidate generation — which is the point.

    Correctness needs only SOME global total order on tokens; this
    implementation orders by the token hash itself, which makes the
    prefix a pure per-row array op on the cached sets — no dictionary
    build, no extra shuffle. At 100 TB, plugging a global-frequency rank
    in as the order (one reusable aggregation) further minimizes
    candidates by putting each document's RAREST tokens in the prefix;
    the output is invariant to that choice, so the oracle is unchanged."""
    hdf = _hashed_shingle_sets(spark, sf_dir)
    prefix_len = (
        F.col("n") - F.ceil(F.lit(JACCARD_THRESHOLD) * F.col("n")) + 1
    ).cast("int")
    ordered = hdf.select(
        "doc_id",
        "n",
        F.slice("hs", 1, prefix_len).alias("prefix"),
    )
    pf = (
        ordered.select(
            "doc_id", "n", F.posexplode("prefix").alias("p0", "h")
        )
        .withColumn("pos", F.col("p0") + 1)
        .drop("p0")
    )
    x = pf.alias("x")
    y = pf.alias("y")
    # PPJoin length filter: jaccard >= t forces t*max(na,nb) <= min(na,nb),
    # so mismatched-size pairs are pruned INSIDE the candidate join —
    # measured 2.7x fewer candidates (221k -> 81k at sf0.1) feeding the
    # verification joins, identical output by construction.
    #
    # PPJoin POSITIONAL filter on top: for a common prefix token at
    # (1-based) positions px/py, every other common token lies after it
    # in both orders, so overlap c <= 1 + min(nx-px, ny-py); jaccard >= t
    # forces c >= ceil(t/(1+t)*(nx+ny)). True matches always survive via
    # their FIRST common prefix token (the bound is valid there), so the
    # prune is lossless — measured another 2.7x (81k -> 30k at sf0.1) off
    # the verification input.
    alpha = F.ceil(
        F.lit(JACCARD_THRESHOLD / (1.0 + JACCARD_THRESHOLD))
        * (F.col("x.n") + F.col("y.n"))
    )
    ubound = F.lit(1) + F.least(
        F.col("x.n") - F.col("x.pos"), F.col("y.n") - F.col("y.pos")
    )
    # ROUND-10 OPTIMIZATION: distinct deferred to the survivor stream —
    # same rationale and measurement as q_dedup_ngram_jaccard (the early
    # exchange deduped the whole candidate stream to remove a small
    # duplicate fraction; measured 1.25 s -> 0.76 s at sf0.1, identical
    # rows). Prefix candidates duplicate only when a pair collides on
    # several prefix tokens, which the positional filter already bounds.
    cand = (
        x.join(
            y,
            (F.col("x.h") == F.col("y.h"))
            & (F.col("x.doc_id") < F.col("y.doc_id"))
            & (F.col("x.n") >= F.ceil(F.lit(JACCARD_THRESHOLD) * F.col("y.n")))
            & (F.col("y.n") >= F.ceil(F.lit(JACCARD_THRESHOLD) * F.col("x.n")))
            & (ubound >= alpha),
        )
        .select(
            F.col("x.doc_id").alias("doc_id_a"),
            F.col("y.doc_id").alias("doc_id_b"),
        )
    )
    ha = hdf.select(
        F.col("doc_id").alias("doc_id_a"),
        F.col("hs").alias("hs_a"),
        F.col("n").alias("na"),
    )
    hb = hdf.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("hs").alias("hs_b"),
        F.col("n").alias("nb"),
    )
    # no broadcast hint — see q_dedup_ngram_jaccard's verification note
    verified = (
        cand.join(ha, "doc_id_a")
        .join(hb, "doc_id_b")
        .withColumn("c", F.size(F.array_intersect("hs_a", "hs_b")))
    )
    jac = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        verified.filter(jac >= JACCARD_THRESHOLD)
        .select("doc_id_a", "doc_id_b", F.round(jac, 6).alias("jaccard"))
        .distinct()
    )


CC_MAX_ITERS = 50  # hard cap on min-label propagation rounds; the loop
                   # exits as soon as a round changes zero labels, so this
                   # only bounds pathological diameter-50+ chains


def connected_components(edges: DataFrame, max_iters: int = CC_MAX_ITERS) -> DataFrame:
    """Convergence-checked connected components via min-label propagation.

    ``edges`` must be a SYMMETRIZED (src, dst) edge list. Each round every
    node takes the min label among itself and its neighbors, then
    POINTER-JUMPS (label <- label of its label — the shortcutting step of
    the classic Shiloach-Vishkin / large-star family): a chain that plain
    propagation crosses one hop per round collapses in O(log diameter)
    rounds instead of O(diameter). ROUND-10 OPTIMIZATION (guide §1.2 —
    fix the distributed algorithm first): the jump step is one extra
    equi-join on the label table per round; measured on sf0.01
    driver_sim runs it cut q_dedup_cluster_sizes from 94.6 s to 15.0 s
    (first-in-family, includes cache build), q_dedup_clusters from
    15.4 s to 6.1 s and q_dedup_keep_best from 12.7 s to 6.3 s, all
    oracles MATCH (tests pin a diameter-31 chain converging within 8
    combined rounds, where plain propagation needs 31). The fixed point is
    UNCHANGED: labels only decrease, every label value is a member
    doc_id, and a round that changes zero labels is in particular stable
    under plain neighbor-min — the termination certificate the oracle's
    recursive-reachability CTE checks.

    The loop stops at the first round that changes zero labels (a true
    fixed point), not after a fixed unroll — so chain-shaped components
    of any diameter converge to one cluster id. Each round is
    ``localCheckpoint()``-ed: the per-round changed-label count (the only
    driver-side action) reuses the materialized round, and lineage is
    truncated so an iterative plan never accretes — the standard
    requirement for iterative graph algorithms on Spark at scale. Labels
    (not documents) shuffle each round; the edge list is persisted by
    the caller.

    Returns (doc_id, lbl) with lbl = min doc_id of the component.
    """
    from ..caches import track_checkpoint

    labels = track_checkpoint(
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("lbl", F.col("doc_id"))
        .localCheckpoint()
    )
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(
                labels.withColumnsRenamed({"doc_id": "dst", "lbl": "nlbl"}),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nlbl").alias("nmin"))
        )
        half = labels.join(
            neighbor_min.withColumnRenamed("src", "doc_id"),
            "doc_id",
            "left",
        ).select(
            "doc_id",
            F.col("lbl").alias("prev_lbl"),
            F.least(
                F.col("lbl"), F.coalesce(F.col("nmin"), F.col("lbl"))
            ).alias("lbl"),
        )
        # shortcut: follow the label pointer once (lbl <- lbl of lbl).
        # `half` appears as two subtrees of the one materializing job —
        # at label-table scale that duplicate is far cheaper than the
        # extra checkpoint job it would take to share it.
        jump = half.select(
            F.col("doc_id").alias("j_doc"), F.col("lbl").alias("j_lbl")
        )
        stepped = (
            half.join(jump, half["lbl"] == jump["j_doc"], "left")
            .select(
                "doc_id",
                "prev_lbl",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("j_lbl"), F.col("lbl"))
                ).alias("lbl"),
            )
            .localCheckpoint()
        )
        stepped = track_checkpoint(stepped)
        changed = stepped.filter(F.col("lbl") != F.col("prev_lbl")).count()
        labels = stepped.drop("prev_lbl")
        if changed == 0:
            break
    return labels


def _cc_oracle() -> str:
    """Convergent connected components over the MinHash-verified pair graph:
    a recursive reachability CTE (set-semantics UNION terminates it), so the
    oracle agrees with the Spark fixpoint loop on ANY component shape — no
    unroll-depth assumption."""
    minhash = _minhash_oracle()
    return f"""
        WITH RECURSIVE pairs AS ({minhash}),
        edges AS (
            SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
            UNION ALL
            SELECT doc_id_b AS src, doc_id_a AS dst FROM pairs
        ),
        reach AS (
            SELECT src AS doc_id, dst AS r FROM edges
            UNION
            SELECT reach.doc_id, e.dst AS r
            FROM reach JOIN edges e ON e.src = reach.r
        )
        SELECT doc_id,
               LEAST(doc_id, MIN(r)) AS cluster_id,
               CASE WHEN doc_id <= MIN(r) THEN 1 ELSE 0 END AS is_keeper
        FROM reach
        GROUP BY doc_id
    """


@register(
    "q_dedup_clusters",
    tags=("dedup", "graph", "iterative", "scale"),
    oracle=_cc_oracle(),
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER assignment: connected components over the
    MinHash-verified pair graph via min-label propagation, iterated to a
    FIXED POINT (``connected_components``) — each round every node takes
    the min label among itself and its neighbors, and the loop stops when
    a round changes zero labels, so chains of any diameter converge (a
    fixed 3-round unroll mislabeled diameter>3 chains;
    tests/test_dedup_graph.py pins the difference). Rounds are self-joins
    on the (small) edge list, shuffling labels not documents, with
    per-round localCheckpoint truncating lineage — the requirements for
    iterative graph algorithms at 100 TB. Only documents that participate
    in ≥1 pair appear (singletons are trivially their own keeper)."""
    pairs = q_dedup_minhash(spark, sf_dir).select("doc_id_a", "doc_id_b")
    edges = pairs.union(
        pairs.select(
            F.col("doc_id_b").alias("doc_id_a"),
            F.col("doc_id_a").alias("doc_id_b"),
        )
    ).withColumnsRenamed({"doc_id_a": "src", "doc_id_b": "dst"})
    from ..caches import track_transient

    edges = track_transient(edges.persist())
    labels = connected_components(edges)
    return labels.select(
        "doc_id",
        F.col("lbl").alias("cluster_id"),
        F.when(F.col("doc_id") == F.col("lbl"), 1).otherwise(0).alias(
            "is_keeper"
        ),
    )


def _keep_best_oracle() -> str:
    from ..functions.text import stopword_ratio_sql

    quality_sql = f"""
            SELECT doc_id,
                   ROUND(0.4 * LEAST(len(string_split(text, ' ')) / 50.0, 1.0)
                         + 0.3 * (1.0 - LEAST(len(regexp_extract_all(text,
                                   '[^a-zA-Z0-9 ]')) * 1.0 / n_chars, 1.0))
                         + 0.3 * LEAST({stopword_ratio_sql("string_split(text, ' ')")}
                                       * 10.0, 1.0), 6) AS quality
            FROM documents
    """
    return f"""
        WITH clusters AS (
            {_cc_oracle()}
        ),
        q AS ({quality_sql}),
        ranked AS (
            SELECT c.doc_id, c.cluster_id, q.quality,
                   ROW_NUMBER() OVER (
                       PARTITION BY c.cluster_id
                       ORDER BY q.quality DESC, c.doc_id
                   ) AS rn
            FROM clusters c JOIN q ON q.doc_id = c.doc_id
        )
        SELECT doc_id, cluster_id, quality,
               CASE WHEN rn = 1 THEN 1 ELSE 0 END AS is_best
        FROM ranked
    """


@register(
    "q_dedup_keep_best",
    tags=("dedup", "graph", "pipeline"),
    oracle=_keep_best_oracle(),
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware keeper selection: within each near-dup cluster keep
    the HIGHEST-quality document (min doc_id as tie-break) instead of the
    arbitrary smallest id — what a production corpus-dedup actually ships.
    Composes the connected components with the heuristic quality score;
    one extra rank window partitioned by cluster id (clusters are tiny,
    skew-free by construction)."""
    from pyspark.sql import Window

    from .text import q_text_quality

    clusters = q_dedup_clusters(spark, sf_dir)
    quality = q_text_quality(spark, sf_dir)
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return (
        clusters.join(quality, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .select(
            "doc_id",
            "cluster_id",
            "quality",
            F.when(F.col("rn") == 1, 1).otherwise(0).alias("is_best"),
        )
    )


@register(
    "q_minhash_est_vs_exact",
    tags=("dedup", "minhash", "diagnostics"),
    oracle=f"""
        WITH {_minhash_cand_cte()},
        sigs AS (
            SELECT doc_id, hs, n,
                   [{', '.join(f's{i}' for i in range(len(MINHASH_AB)))}]
                       AS sigv
            FROM ne JOIN sig USING (doc_id)
        ),
        est AS (
            SELECT c.doc_id_a, c.doc_id_b,
                   len(list_filter(range(1, {len(MINHASH_AB)} + 1),
                       i -> sa.sigv[i] = sb.sigv[i])) AS m,
                   len(list_intersect(sa.hs, sb.hs)) AS c_int,
                   sa.n AS na, sb.n AS nb
            FROM cand c
            JOIN sigs sa ON c.doc_id_a = sa.doc_id
            JOIN sigs sb ON c.doc_id_b = sb.doc_id
        )
        SELECT doc_id_a, doc_id_b,
               ROUND(m * 1.0 / {len(MINHASH_AB)}, 6) AS est_jaccard,
               ROUND(c_int * 1.0 / (na + nb - c_int), 6) AS exact_jaccard
        FROM est
    """,
)
def q_minhash_est_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator DIAGNOSTICS: for every banded candidate pair, the
    MinHash Jaccard estimate (matching signature fraction — what a
    pipeline would use to skip exact verification entirely at 100 TB)
    next to the exact set Jaccard. The delta distribution is how you
    size k (more hashes → tighter estimates) before turning off exact
    verification; the computation adds nothing beyond the candidate join
    both verifying tiers already pay — the signature comparison is a
    per-row zip over two cached 16-long arrays."""
    hdf = _hashed_shingle_sets(spark, sf_dir)
    cand = lsh_candidates(hdf)
    ha = hdf.select(
        F.col("doc_id").alias("doc_id_a"),
        F.col("hs").alias("hs_a"),
        F.col("n").alias("na"),
        F.col("sig").alias("sig_a"),
    )
    hb = hdf.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("hs").alias("hs_b"),
        F.col("n").alias("nb"),
        F.col("sig").alias("sig_b"),
    )
    joined = cand.join(ha, "doc_id_a").join(hb, "doc_id_b")
    n_hashes = len(MINHASH_AB)
    matches = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda a, b: a == b),
            lambda x: x,
        )
    )
    c_int = F.size(F.array_intersect("hs_a", "hs_b"))
    exact = c_int / (F.col("na") + F.col("nb") - c_int)
    return joined.select(
        "doc_id_a",
        "doc_id_b",
        F.round(matches * F.lit(1.0) / F.lit(n_hashes), 6).alias(
            "est_jaccard"
        ),
        F.round(exact, 6).alias("exact_jaccard"),
    )


# the exact tier's pair list as ONE self-contained CTE block (nested
# WITH): the uncapped inverted-index join + Jaccard gate. Shared by the
# two audit oracles and exposed verbatim so the soak harness
# (scripts/driver_sim.py) can materialize it once per fixture — the
# DuckDB-side twin of the Spark session's _tier_pair_list memo.
_EXACT_PAIRS_BLOCK = f"""exact_pairs AS (
            WITH {_HS_CTE},
            inter AS (
                SELECT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b,
                       COUNT(*) AS c
                FROM sh x JOIN sh y
                  ON x.h = y.h AND x.doc_id < y.doc_id
                GROUP BY 1, 2
            )
            SELECT doc_id_a, doc_id_b
            FROM inter
            JOIN ne sa ON inter.doc_id_a = sa.doc_id
            JOIN ne sb ON inter.doc_id_b = sb.doc_id
            WHERE c * 1.0 / (sa.n + sb.n - c) >= {JACCARD_THRESHOLD}
        )"""


def _tier_recall_oracle() -> str:
    minhash = _minhash_oracle()
    return f"""
        WITH {_EXACT_PAIRS_BLOCK},
        approx_pairs AS (
            SELECT doc_id_a, doc_id_b FROM ({minhash})
        )
        SELECT CAST((SELECT COUNT(*) FROM exact_pairs) AS BIGINT)
                   AS n_exact,
               CAST((SELECT COUNT(*) FROM approx_pairs) AS BIGINT)
                   AS n_minhash,
               CAST((SELECT COUNT(*) FROM exact_pairs e
                     JOIN approx_pairs a
                       ON e.doc_id_a = a.doc_id_a
                      AND e.doc_id_b = a.doc_id_b) AS BIGINT) AS n_common,
               ROUND((SELECT COUNT(*) FROM exact_pairs e
                      JOIN approx_pairs a
                        ON e.doc_id_a = a.doc_id_a
                       AND e.doc_id_b = a.doc_id_b) * 1.0
                     / GREATEST((SELECT COUNT(*) FROM exact_pairs), 1), 6)
                   AS recall
    """


@session_memo("dedup_tier_pair_lists")
def _tier_pair_list(
    spark: SparkSession, sf_dir: str, tier: str
) -> DataFrame:
    """(doc_id_a, doc_id_b) pair list of a dedup tier, memoized per
    (session, fixture) and materialized ONCE (eager localCheckpoint).

    The audit queries (tier recall, band sensitivity) consume pair
    lists the session's dedup pass has typically already computed — the
    same index-reuse convention the IVF/semdedup/shingle caches follow,
    applied to tier RESULTS. Materialization also stops Catalyst from
    replaying the generating pipeline once per plan reference (the
    round-6 10× soak finding). The lists are output-sized (thousands of
    rows), so holding them for the session costs ~nothing. The family's
    release frees the checkpoint blocks together with the handles, so
    a released list can never be read as a dead checkpoint."""
    fn = {
        "exact": q_dedup_ngram_jaccard,
        "minhash": q_dedup_minhash,
    }[tier]
    return (
        fn(spark, sf_dir)
        .select("doc_id_a", "doc_id_b")
        .localCheckpoint(eager=True)
    )


@register(
    "q_dedup_tier_recall",
    tags=("dedup", "diagnostics"),
    oracle=_tier_recall_oracle(),
)
def q_dedup_tier_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tier-recall AUDIT: how many true near-dup pairs (the exact
    inverted-index tier) the banded MinHash tier recovers — the number
    you check before trusting the approximate tier alone at 100 TB (16
    hashes × 4×4 bands gives band-collision probability 1-(1-j^4)^4,
    ≈0.986 at j=0.8; this query measures the realized recall on the
    actual corpus). Each pair list comes from the session memo
    (:func:`_tier_pair_list`) — materialized ONCE per (session, fixture)
    via eager localCheckpoint: the plan below reads each list twice (its
    own count + the intersection join), and without the materialization
    Catalyst replays the full inverted-index / band-join pipeline per
    reference — a waste that is invisible at sample scale and dominated
    the 10× soak. The frames are pair lists (thousands of rows), so the
    cost is one pipeline run each, shared with every other audit in the
    session."""
    exact = _tier_pair_list(spark, sf_dir, "exact")
    approx = _tier_pair_list(spark, sf_dir, "minhash")
    common = exact.join(approx, ["doc_id_a", "doc_id_b"])
    return (
        exact.agg(F.count("*").alias("n_exact"))
        .crossJoin(F.broadcast(approx.agg(F.count("*").alias("n_minhash"))))
        .crossJoin(F.broadcast(common.agg(F.count("*").alias("n_common"))))
        .select(
            "n_exact",
            "n_minhash",
            "n_common",
            F.round(
                F.col("n_common") / F.greatest(F.col("n_exact"), F.lit(1)), 6
            ).alias("recall"),
        )
    )


WINNOW_W = 4  # winnowing window (windows of w consecutive shingle hashes)
WINNOW_MIN_SHARED = 2  # emit pairs sharing >= this many fingerprints


@register(
    "q_dedup_winnowing",
    tags=("dedup", "fingerprint", "winnowing", "scale"),
    oracle=f"""
        WITH base AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), w -> w <> '') AS toks
            FROM documents
        ), hseq AS (
            SELECT doc_id,
                   list_transform(
                       {shingles_ordered_sql('toks')},
                       s -> {md5_long_sql('s')}) AS hs
            FROM base
        ), wins AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, len(hs) - {WINNOW_W - 2}),
                       j -> list_min(list_slice(hs, j, j + {WINNOW_W - 1}))))
                       AS fps
            FROM hseq
        ), fp AS (
            SELECT doc_id, UNNEST(fps) AS f FROM wins
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
    """,
)
def q_dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINNOWING fingerprints (the MOSS local-fingerprinting scheme,
    Schleimer/Wilkerson/Aiken SIGMOD'03): hash the ORDERED 3-shingle
    sequence, slide a {WINNOW_W}-hash window, keep each window's
    minimum — guaranteeing any shared run of {WINNOW_W + 2} tokens
    leaves at least one common fingerprint — then pair documents
    sharing >= {WINNOW_MIN_SHARED} selected fingerprints.  Positional
    robustness MinHash doesn't give: fingerprints localize WHERE the
    overlap is, and density is ~2/w of the shingle count instead of a
    fixed signature.

    Plan: fingerprint selection is pure per-row array arithmetic (the
    zip_with shingle chain, one transform of window minima — no explode
    until the ~2m/w selected hashes), then the standard inverted-index
    pair join keyed on the 44-bit fingerprint.  Index density is w/2×
    sparser than the full ngram index (`q_dedup_ngram_jaccard`), which
    is the winnowing trade: same-boilerplate hot keys shrink with it.
    At 100 TB the pair join partial-combines on (fingerprint) before
    the exchange and hot fingerprints fall under the same AQE skew
    handling as the exact tier."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.filter(tokens(F.col("text")), lambda w: w != "")
    hs = F.transform(shingles_ordered(toks), md5_long)
    d = docs.select("doc_id", hs.alias("hs"))
    # Guard: for docs with < WINNOW_W shingles Spark's sequence(1, n)
    # with n < 1 produces a DESCENDING sequence (step defaults to -1)
    # and slice(start=0) then throws — DuckDB's range() yields empty.
    # Emit no fingerprints for such docs in both engines.
    wins = F.when(
        F.size("hs") >= WINNOW_W,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("hs") - (WINNOW_W - 1)),
                lambda j: F.array_min(F.slice(F.col("hs"), j, WINNOW_W)),
            )
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    fp = d.select("doc_id", F.explode(wins).alias("f"))
    a = fp.alias("a")
    b = fp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.f") == F.col("b.f"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )


@register(
    "q_dedup_cluster_sizes",
    tags=("dedup", "graph", "diagnostics"),
    oracle=f"""
        WITH labels AS ({_cc_oracle()})
        SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
        FROM (
            SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
            FROM labels GROUP BY 1
        )
        GROUP BY 1
    """,
)
def q_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster SIZE DISTRIBUTION — the corpus-health diagnostic
    read off every dedup run (a long tail of pairs is normal; a giant
    connected component usually means boilerplate gluing unrelated docs
    together — the signal to tighten the shingle threshold before
    deleting anything).  Two tiny aggregations over the converged
    component labels; at 100 TB the histogram is component-count-sized,
    and a skew-blowup in the first groupBy IS the anomaly this query
    exists to catch."""
    labels = q_dedup_clusters(spark, sf_dir)
    return (
        labels.groupBy("cluster_id")
        .agg(F.count("*").alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
    )


def _sig_cols_sql() -> str:
    return ",\n                   ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {MERSENNE_P}))"
        f" AS s{i}"
        for i, (a, b) in enumerate(MINHASH_AB)
    )


def _band_cand_sql(band_size: int, prefix: str) -> str:
    """bands + distinct candidate-pair CTEs for an arbitrary banding of
    the SAME 16-hash signatures (r rows × 16/r bands)."""
    nb = len(MINHASH_AB) // band_size
    band_selects = "\n            UNION ALL\n            ".join(
        "SELECT doc_id, {b} AS band, {key} AS band_key FROM sig".format(
            b=b,
            key=" || '_' || ".join(
                f"CAST(s{b * band_size + j} AS VARCHAR)"
                for j in range(band_size)
            ),
        )
        for b in range(nb)
    )
    return f"""{prefix}bands AS (
            {band_selects}
        ), {prefix}cand AS (
            SELECT DISTINCT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b
            FROM {prefix}bands x JOIN {prefix}bands y
              ON x.band = y.band AND x.band_key = y.band_key
             AND x.doc_id < y.doc_id
        )"""


def _band_sensitivity_oracle() -> str:
    per_config = "\n        UNION ALL\n        ".join(
        f"""SELECT 'bands{len(MINHASH_AB) // r}x{r}' AS config,
               CAST((SELECT COUNT(*) FROM {p}cand) AS BIGINT)
                   AS n_candidates,
               CAST((SELECT COUNT(*) FROM exact_pairs) AS BIGINT)
                   AS n_exact,
               CAST((SELECT COUNT(*) FROM exact_pairs e
                     JOIN {p}cand c ON e.doc_id_a = c.doc_id_a
                                   AND e.doc_id_b = c.doc_id_b) AS BIGINT)
                   AS n_found,
               ROUND((SELECT COUNT(*) FROM exact_pairs e
                      JOIN {p}cand c ON e.doc_id_a = c.doc_id_a
                                    AND e.doc_id_b = c.doc_id_b) * 1.0
                     / GREATEST((SELECT COUNT(*) FROM exact_pairs), 1), 6)
                   AS recall"""
        for r, p in ((4, "b4"), (2, "b2"))
    )
    return f"""
        WITH {_HS_CTE},
        sig AS (
            SELECT doc_id,
                   {_sig_cols_sql()}
            FROM ne
        ),
        {_band_cand_sql(4, "b4")},
        {_band_cand_sql(2, "b2")},
        {_EXACT_PAIRS_BLOCK}
        {per_config}
    """


@session_memo("dedup_tier_pair_lists")
def _band_candidates(
    spark: SparkSession, sf_dir: str, band_size: int
) -> DataFrame:
    """(doc_id_a, doc_id_b) candidates of one banding config, from the
    shared signature cache, materialized ONCE (eager localCheckpoint):
    referenced by both the volume count and the recall join, and
    memoized so repeated invocations (multi-iteration bench loops)
    reuse one checkpoint instead of accumulating storage per call."""
    return lsh_candidates(
        _hashed_shingle_sets(spark, sf_dir), band_size
    ).localCheckpoint(eager=True)


@register(
    "q_minhash_band_sensitivity",
    tags=("dedup", "minhash", "lsh", "diagnostics", "scale"),
    oracle=_band_sensitivity_oracle(),
)
def q_minhash_band_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH S-CURVE sensitivity audit: the SAME 16 minhashes banded two
    ways — 4 bands × 4 rows (the production config) vs 8 bands × 2 rows
    — with candidate volume and realized recall against the exact tier
    side by side.  The theory: P(candidate) = 1-(1-J^r)^b, so at
    J = 0.8, 4×4 catches ≈ 88% per the curve while 8×2 catches ≈ 99.97%
    at the cost of more (lower-precision) candidates.  This is the
    dial-turning evidence for choosing a banding at 100 TB: measure the
    recall/cost tradeoff on a sample with THIS query before committing
    a config to the full corpus.

    Plan: signatures come from the shared cache; each config is one
    band-key equi-join (never all-pairs); the exact tier reuses the
    inverted-index join.  All counts are aggregates over pair lists —
    the output is two rows."""
    # the exact tier from the session memo: it is referenced four times
    # below (n_exact + n_found, per config) and each reference would
    # otherwise replay the whole inverted-index pipeline (the 10x-soak
    # finding that also fixed q_dedup_tier_recall); the memo shares the
    # one materialization with the recall audit
    exact_pairs = _tier_pair_list(spark, sf_dir, "exact")

    def config_row(band_size: int) -> DataFrame:
        cand = _band_candidates(spark, sf_dir, band_size)
        n_cand = cand.agg(F.count("*").alias("n_candidates"))
        n_found = cand.join(
            exact_pairs, ["doc_id_a", "doc_id_b"]
        ).agg(F.count("*").alias("n_found"))
        n_exact = exact_pairs.agg(F.count("*").alias("n_exact"))
        nb = len(MINHASH_AB) // band_size
        return (
            n_cand.crossJoin(F.broadcast(n_exact))
            .crossJoin(F.broadcast(n_found))
            .select(
                F.lit(f"bands{nb}x{band_size}").alias("config"),
                "n_candidates",
                "n_exact",
                "n_found",
                F.round(
                    F.col("n_found")
                    / F.greatest(F.col("n_exact"), F.lit(1)),
                    6,
                ).alias("recall"),
            )
        )

    return config_row(4).unionByName(config_row(2))
