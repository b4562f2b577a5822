"""Round-3 training-corpus operators: passage-level dedup (the CCNet
line-dedup shape), corpus-LM quality scoring, Bloom-filter cross-corpus
membership, deterministic distinct/frequency sketches (KMV, count-min),
the two-phase distributed global shuffle, and weighted dataset mixing.

These extend the LLM-pipeline surface beyond the round-1/2 dedup and
sampling tiers (the reference itself — an emoji streaming app — has no
counterpart; this family is the engine's own scale brief).  Everything is
built on the cross-engine ``md5`` hash primitives from
``functions/hashing.py`` so every query is hash-checkable against the
DuckDB oracle, and every plan is shuffle-bounded: no all-pairs joins, no
driver collects, no row-at-a-time UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.hashing import md5_long, md5_long_sql
from ..functions.text import shingles, shingles_sql, tokens
from ..plans.registry import register

# ---------------------------------------------------------------------------
# shared constants (templated into BOTH engines)

PASSAGE_TOKENS = 10  # CCNet-style dedup unit (the fixture text has no \n)
BLOOM_M = 1 << 20  # bloom filter bit-space
BLOOM_K = 4  # hash functions
KMV_K = 64  # k-minimum-values sketch size
HASH_SPACE = 1 << 44  # md5_long range (44 bits)
CM_WIDTH = 16  # count-min width — deliberately tiny at test scale so the
CM_DEPTH = 4  # collision path is exercised; production widths are >= 2^20
SHUFFLE_BUCKETS = 256  # two-phase global sort: range buckets (h >> 36)
SHUFFLE_SPAN = HASH_SPACE // SHUFFLE_BUCKETS
SHARD_SIZE = 64  # docs per training shard
MIX_EPOCH = 100  # docs per mixed epoch

_FILTERED_TOKS = "list_filter(string_split(text, ' '), w -> w <> '')"


def _toks() -> F.Column:
    """Non-empty whitespace tokens (Spark twin of ``_FILTERED_TOKS``)."""
    return F.filter(tokens(F.col("text")), lambda w: w != "")


# ---------------------------------------------------------------------------
# 1. passage-level dedup (CCNet line dedup, re-expressed)


@register(
    "q_corpus_passage_dedup",
    headline=True,
    tags=("dedup", "text", "llm-pipeline", "scale"),
    oracle=f"""
        WITH base AS (
            SELECT doc_id, {_FILTERED_TOKS} AS toks FROM documents
        ), pass AS (
            SELECT doc_id,
                   md5(array_to_string(
                       list_slice(toks, i*{PASSAGE_TOKENS}+1,
                                  i*{PASSAGE_TOKENS}+{PASSAGE_TOKENS}),
                       ' ')) AS ph
            FROM base CROSS JOIN
                 UNNEST(range(CAST(ceil(len(toks)/{PASSAGE_TOKENS}.0)
                                   AS BIGINT))) AS u(i)
        ), cnt AS (
            SELECT ph, COUNT(*) AS occ FROM pass GROUP BY 1
        )
        SELECT p.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_passages,
               CAST(SUM(CASE WHEN c.occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_passages,
               ROUND(SUM(CASE WHEN c.occ >= 2 THEN 1 ELSE 0 END) * 1.0
                     / COUNT(*), 6) AS dup_ratio
        FROM pass p JOIN cnt c USING (ph)
        GROUP BY 1
    """,
)
def q_corpus_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PASSAGE-level dedup stats — the CCNet/RefinedWeb *line* dedup
    reshaped for the fixture's newline-free text: each doc is cut into
    consecutive {PASSAGE_TOKENS}-token passages, passages are md5-keyed,
    and a passage is duplicated if its key occurs >= 2 times corpus-wide
    (within- or cross-document — planted near-dup docs share aligned
    spans, which is exactly what this catches).

    Plan (ROUND-10 OPTIMIZATION, guide §2.4/§1.2): the passage list is
    built NARROW (transform over a sequence — no explode until the
    passage hash is a scalar), and the corpus-wide occurrence count is a
    WINDOW over the passage key instead of a groupBy + self-join — the
    join form derived the exploded passage table TWICE (two full
    scan+tokenize+md5 branches) and at cluster scale shuffles it twice
    (count build + join probe); the window form derives it once and
    shuffles it exactly once, then one shuffle back on doc_id for the
    per-doc rollup.  The key that shuffles is the 16-byte unhexed md5
    (half the bytes of the 32-hex string; unhex is injective so the
    occurrence counts are unchanged).  Hot keys (boilerplate passages)
    land in one window partition either way — same locality as the join
    form's probe side, minus the second copy."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    P = PASSAGE_TOKENS
    d = docs.select("doc_id", _toks().alias("toks"))
    npass = F.ceil(F.size("toks") / F.lit(float(P))).cast("long")
    # Guard: npass=0 (empty/whitespace-only doc) would make
    # sequence(0, -1) DESCEND in Spark ([0,-1] -> two phantom md5('')
    # passages) where DuckDB's range(0) is empty — emit none in both.
    passages = F.when(
        npass > 0,
        F.transform(
            F.sequence(F.lit(0).cast("long"), npass - 1),
            lambda i: F.unhex(
                F.md5(
                    F.concat_ws(" ", F.slice(F.col("toks"), i * P + 1, P))
                )
            ),
        ),
    ).otherwise(F.array().cast("array<binary>"))
    p = d.select("doc_id", F.explode(passages).alias("ph"))
    from pyspark.sql import Window

    occ = F.count("*").over(Window.partitionBy("ph"))
    dup = F.when(occ >= 2, 1).otherwise(0)
    return (
        p.select("doc_id", dup.alias("is_dup"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_passages"),
            F.sum("is_dup").alias("n_dup_passages"),
            F.round(F.sum("is_dup") / F.count("*"), 6).alias("dup_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# 2. corpus-LM quality scoring


@register(
    "q_corpus_unigram_logprob",
    tags=("text", "llm-pipeline", "quality"),
    oracle="""
        WITH w AS (
            SELECT doc_id, word FROM (
                SELECT doc_id, UNNEST(string_split(text, ' ')) AS word
                FROM documents
            ) WHERE word <> ''
        ), v AS (
            SELECT word, COUNT(*) AS cnt FROM w GROUP BY 1
        ), t AS (
            SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM v
        )
        SELECT w.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               ROUND(CAST(SUM(CAST(ln(v.cnt * 1.0 / t.total)
                                   AS DECIMAL(28,10))) AS DOUBLE)
                     / COUNT(*), 6) AS avg_logprob
        FROM w JOIN v USING (word) CROSS JOIN t
        GROUP BY 1
    """,
)
def q_corpus_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram-LM document scoring — the cheap perplexity proxy
    every pretraining pipeline runs before the expensive model-based
    filter: fit a unigram LM on the corpus itself (word -> count/total),
    then score each document by its mean token log-probability.
    Out-of-distribution / gibberish docs score low.

    Plan: one word-count aggregation (map-side partial combine collapses
    each task to vocabulary size), then the vocab is BROADCAST back onto
    the exploded token stream — a shuffle join keyed on the word would
    put every occurrence of 'the' in one task (Zipf skew), while the
    broadcast costs only |vocab| (natural-language vocabularies are
    ~1e7 entries ≈ 100 MB — within executor budget at 100 TB; beyond
    that, AQE skew-join on the frequency-split tail).  The scalar total
    rides the same broadcast as a 1-row cross join."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    w = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("word")
    ).filter(F.col("word") != "")
    vocab = w.groupBy("word").agg(F.count("*").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    logp = F.log(F.col("cnt") / F.col("total"))
    return (
        w.join(F.broadcast(vocab), "word")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            # decimal(28,10) accumulation: order-independent exact sum so
            # the 6-dp round can't flip across engines/partitionings.
            F.round(
                F.sum(logp.cast("decimal(28,10)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# 3. Bloom-filter cross-corpus membership


def _bloom_pos(col: F.Column, k: int) -> F.Column:
    return md5_long(F.concat(F.lit(f"bloom{k}:"), col)) % F.lit(BLOOM_M)


def _bloom_pos_sql(expr: str, k: int) -> str:
    salted = f"'bloom{k}:' || {expr}"
    return f"{md5_long_sql(salted)} % {BLOOM_M}"


def shingle_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, s): one row per distinct 3-shingle of each document."""
    return docs.select(
        "doc_id", F.explode(shingles(_toks())).alias("s")
    )


def bloom_bits(sh: DataFrame) -> DataFrame:
    """The Bloom filter as a relation: the DISTINCT set bit positions of
    every shingle's {BLOOM_K} hashes — bounded by m = {BLOOM_M} rows
    regardless of corpus size, so always broadcastable."""
    all_pos = F.array(*[_bloom_pos(F.col("s"), k) for k in range(BLOOM_K)])
    return sh.select(F.explode(all_pos).alias("pos")).distinct()


def bloom_probe(probe_sh: DataFrame, seen_bits: DataFrame) -> DataFrame:
    """Per-doc membership stats of probe shingles against a (static)
    bit-set relation: a shingle is SEEN iff all {BLOOM_K} positions are
    present.  The bit set broadcasts; the probe side never shuffles
    except the rollups.

    ROUND-11 (guide §1.2, audit rescan): the old form INNER-joined the
    exploded positions and LEFT-joined the hit counts back onto a
    second derivation of the probe stream (the full tokenize+shingle
    pipeline, twice). One LEFT join against the marked bit set keeps
    every exploded row, so one derivation yields both the occurrence
    count (rows / {BLOOM_K}) and the matched count per (doc, shingle);
    the rollup arithmetic is value-identical: per (doc, s) with m
    occurrences the old group hits were m × matched-positions and each
    occurrence row contributed 1 to n_shingles and [hits == K] to
    n_seen — exactly occ and occ·[hits == K] here."""
    all_pos = F.array(*[_bloom_pos(F.col("s"), k) for k in range(BLOOM_K)])
    probe_pos = probe_sh.select(
        "doc_id", "s", F.explode(all_pos).alias("pos")
    )
    per_sh = (
        probe_pos.join(
            F.broadcast(seen_bits.withColumn("b", F.lit(1))), "pos", "left"
        )
        .groupBy("doc_id", "s")
        .agg(
            (F.count("*") / F.lit(BLOOM_K)).cast("long").alias("occ"),
            F.count("b").alias("hits"),
        )
    )
    seen = F.when(F.col("hits") == BLOOM_K, F.col("occ")).otherwise(
        F.lit(0).cast("long")
    )
    return per_sh.groupBy("doc_id").agg(
        F.sum("occ").alias("n_shingles"),
        F.sum(seen).alias("n_seen"),
        F.round(F.sum(seen) / F.sum("occ"), 6).alias("seen_ratio"),
    )


@register(
    "q_dedup_bloom_shingles",
    tags=("dedup", "bloom", "llm-pipeline", "scale"),
    oracle=f"""
        WITH base AS (
            SELECT doc_id, {_FILTERED_TOKS} AS toks FROM documents
        ), sh AS (
            SELECT doc_id, UNNEST({shingles_sql('toks')}) AS s FROM base
        ), seen_bits AS (
            SELECT DISTINCT {_bloom_pos_sql('s', 0)} AS pos
            FROM sh WHERE doc_id % 2 = 0
            UNION
            SELECT DISTINCT {_bloom_pos_sql('s', 1)} FROM sh WHERE doc_id % 2 = 0
            UNION
            SELECT DISTINCT {_bloom_pos_sql('s', 2)} FROM sh WHERE doc_id % 2 = 0
            UNION
            SELECT DISTINCT {_bloom_pos_sql('s', 3)} FROM sh WHERE doc_id % 2 = 0
        ), probe AS (
            SELECT doc_id, s, COUNT(*) AS hits FROM (
                SELECT sh.doc_id, sh.s,
                       CASE u.k WHEN 0 THEN {_bloom_pos_sql('s', 0)}
                                WHEN 1 THEN {_bloom_pos_sql('s', 1)}
                                WHEN 2 THEN {_bloom_pos_sql('s', 2)}
                                ELSE {_bloom_pos_sql('s', 3)} END AS pos
                FROM sh CROSS JOIN UNNEST([0,1,2,3]) AS u(k)
                WHERE doc_id % 2 = 1
            ) p JOIN seen_bits USING (pos)
            GROUP BY 1, 2
        )
        SELECT sh.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_shingles,
               CAST(SUM(CASE WHEN p.hits = {BLOOM_K} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_seen,
               ROUND(SUM(CASE WHEN p.hits = {BLOOM_K} THEN 1 ELSE 0 END)
                     * 1.0 / COUNT(*), 6) AS seen_ratio
        FROM sh LEFT JOIN probe p
            ON sh.doc_id = p.doc_id AND sh.s = p.s
        WHERE sh.doc_id % 2 = 1
        GROUP BY 1
    """,
)
def q_dedup_bloom_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM-FILTER cross-corpus membership — the constant-memory way to
    ask "how much of this incoming document has the reference corpus
    already seen?" (incremental-crawl dedup / benchmark-contamination
    screening).  The reference corpus (even doc_ids) inserts each
    3-shingle at {BLOOM_K} hashed bit positions in a {BLOOM_M}-bit
    space; a probe shingle (odd doc_ids) counts as SEEN iff all
    {BLOOM_K} positions are set.  Planted near-dup docs surface with
    seen_ratio near 1; false positives are (set_bits/m)^k ≈ 1e-6 here.

    Plan: the filter is represented relationally as the DISTINCT set of
    set bit positions — bounded by m = {BLOOM_M} rows (8 MB as int64)
    REGARDLESS of corpus size, so it is always broadcastable: the probe
    side explodes to (shingle, k) and hash-joins the broadcast bit set
    with zero shuffle of the probe stream.  On a real cluster the bit
    set compacts further into a bitmap via bit-OR partial aggregation;
    the distinct-position relation is the engine-portable equivalent
    with identical semantics."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = shingle_rows(docs)
    seen_bits = bloom_bits(sh.filter(F.col("doc_id") % 2 == 0))
    return bloom_probe(sh.filter(F.col("doc_id") % 2 == 1), seen_bits)


# ---------------------------------------------------------------------------
# 4. KMV distinct sketch


@register(
    "q_sketch_kmv_distinct",
    tags=("sketch", "agg", "scale"),
    oracle=f"""
        WITH h AS (
            SELECT DISTINCT
                {md5_long_sql("'kmv:' || CAST(user_id AS VARCHAR)")} AS hv
            FROM events
        ), k AS (
            SELECT hv FROM h ORDER BY hv LIMIT {KMV_K}
        ), kth AS (
            SELECT MAX(hv) AS hk, COUNT(*) AS kk FROM k
        ), ex AS (
            SELECT COUNT(DISTINCT user_id) AS exact_distinct FROM events
        )
        SELECT CAST(ex.exact_distinct AS BIGINT) AS exact_distinct,
               ROUND((kth.kk - 1) * {float(HASH_SPACE)} / kth.hk, 4)
                   AS kmv_estimate,
               ROUND(ABS((kth.kk - 1) * {float(HASH_SPACE)} / kth.hk
                         - ex.exact_distinct) / ex.exact_distinct, 4)
                   AS rel_err
        FROM kth CROSS JOIN ex
    """,
)
def q_sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-MINIMUM-VALUES distinct sketch — the deterministic,
    cross-engine-reproducible cousin of HyperLogLog (the engine's
    ``approx_count_distinct`` is HLL++ and correct, but its estimate is
    engine-private, so THIS query is the hash-checkable sketch): hash
    every key into [0, 2^44), keep the {KMV_K} smallest distinct hash
    values, estimate distinct = (k-1) * space / kth_min.  Estimate and
    exact are returned side by side with the realized relative error.

    Plan: the k-smallest pass is a TakeOrdered — each task keeps its
    local top-{KMV_K}, the driver merges P×{KMV_K} values; nothing else
    crosses the wire, which is the whole point of the sketch at 100 TB
    (a mergeable fixed-size summary per partition).  The exact
    count-distinct alongside costs the usual two-phase shuffle and
    exists to ground the error column."""
    ev = table(spark, sf_dir, "events")
    h = ev.select(
        md5_long(
            F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))
        ).alias("hv")
    ).distinct()
    kmin = h.orderBy("hv").limit(KMV_K)
    kth = kmin.agg(F.max("hv").alias("hk"), F.count("*").alias("kk"))
    exact = ev.agg(F.countDistinct("user_id").alias("exact_distinct"))
    est = (F.col("kk") - 1) * F.lit(float(HASH_SPACE)) / F.col("hk")
    return (
        kth.crossJoin(F.broadcast(exact))
        .select(
            F.col("exact_distinct"),
            F.round(est, 4).alias("kmv_estimate"),
            F.round(
                F.abs(est - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                4,
            ).alias("rel_err"),
        )
    )


# ---------------------------------------------------------------------------
# 5. count-min sketch


def _cm_pos(col: F.Column, d: int) -> F.Column:
    return md5_long(F.concat(F.lit(f"cm{d}:"), col)) % F.lit(CM_WIDTH)


def _cm_pos_sql(expr: str, d: int) -> str:
    salted = f"'cm{d}:' || {expr}"
    return f"{md5_long_sql(salted)} % {CM_WIDTH}"


@register(
    "q_sketch_countmin",
    tags=("sketch", "agg", "skew", "scale"),
    oracle=f"""
        WITH cells AS (
            SELECT d, pos, COUNT(*) AS c FROM (
                SELECT u.d,
                       CASE u.d WHEN 0 THEN {_cm_pos_sql('event_type', 0)}
                                WHEN 1 THEN {_cm_pos_sql('event_type', 1)}
                                WHEN 2 THEN {_cm_pos_sql('event_type', 2)}
                                ELSE {_cm_pos_sql('event_type', 3)} END AS pos
                FROM events CROSS JOIN UNNEST([0,1,2,3]) AS u(d)
            ) GROUP BY 1, 2
        ), types AS (
            SELECT event_type, COUNT(*) AS exact_cnt FROM events GROUP BY 1
        ), probes AS (
            SELECT t.event_type, t.exact_cnt, u.d,
                   CASE u.d WHEN 0 THEN {_cm_pos_sql('t.event_type', 0)}
                            WHEN 1 THEN {_cm_pos_sql('t.event_type', 1)}
                            WHEN 2 THEN {_cm_pos_sql('t.event_type', 2)}
                            ELSE {_cm_pos_sql('t.event_type', 3)} END AS pos
            FROM types t CROSS JOIN UNNEST([0,1,2,3]) AS u(d)
        )
        SELECT p.event_type,
               CAST(MAX(p.exact_cnt) AS BIGINT) AS exact_cnt,
               CAST(MIN(c.c) AS BIGINT) AS cm_estimate,
               ROUND(MIN(c.c) * 1.0 / MAX(p.exact_cnt), 6) AS over_ratio
        FROM probes p JOIN cells c ON c.d = p.d AND c.pos = p.pos
        GROUP BY 1
    """,
)
def q_sketch_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT-MIN frequency sketch: a {CM_DEPTH}×{CM_WIDTH} counter grid
    (width deliberately tiny at test scale so hash collisions — the
    sketch's defining error mode, always an OVERestimate — actually
    occur; production widths are >= 2^20).  Each event increments one
    cell per depth; a key's estimate is the MIN of its {CM_DEPTH} cells,
    reported against the exact count.

    Plan: building the grid is a single pass — the per-depth position
    explode multiplies rows ×{CM_DEPTH} but partial aggregation
    collapses every task to at most {CM_DEPTH}×{CM_WIDTH} cells before
    the exchange, so the shuffle carries a fixed-size sketch per task no
    matter the input size (the mergeability that makes CM the standard
    heavy-hitter primitive on unbounded streams).  The probe side joins
    the ≤{CM_DEPTH}×{CM_WIDTH}-row grid broadcast."""
    ev = table(spark, sf_dir, "events")
    cell_structs = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"), _cm_pos(F.col("event_type"), d).alias("pos")
            )
            for d in range(CM_DEPTH)
        ]
    )
    cells = (
        ev.select(F.explode(cell_structs).alias("c"))
        .select("c.d", "c.pos")
        .groupBy("d", "pos")
        .agg(F.count("*").alias("c"))
    )
    types = ev.groupBy("event_type").agg(F.count("*").alias("exact_cnt"))
    probes = types.select(
        "event_type", "exact_cnt", F.explode(cell_structs).alias("p")
    ).select("event_type", "exact_cnt", "p.d", "p.pos")
    return (
        probes.join(F.broadcast(cells), ["d", "pos"])
        .groupBy("event_type")
        .agg(
            F.max("exact_cnt").alias("exact_cnt"),
            F.min("c").alias("cm_estimate"),
            F.round(F.min("c") / F.max("exact_cnt"), 6).alias("over_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# 6. two-phase distributed global shuffle + sharding


def shard_assignments(docs: DataFrame) -> DataFrame:
    """Input columns + (hv, b, grn, shard_id): the deterministic global
    shuffle rank and shard of every document, computed with the
    two-phase bucket construction (range-bucket on the hash's top bits,
    prefix-summed bucket offsets + within-bucket row_number) — no
    single-partition sort anywhere."""
    h = docs.withColumn(
        "hv",
        md5_long(F.concat(F.lit("shuf:"), F.col("doc_id").cast("string"))),
    ).withColumn("b", F.expr(f"hv div {SHUFFLE_SPAN}"))
    counts = h.groupBy("b").agg(F.count("*").alias("bc"))
    w_off = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "b", F.coalesce(F.sum("bc").over(w_off), F.lit(0)).alias("off")
    )
    w_local = Window.partitionBy("b").orderBy("hv", "doc_id")
    return (
        h.join(F.broadcast(offsets), "b")
        .withColumn("grn", F.col("off") + F.row_number().over(w_local))
        .withColumn("shard_id", F.expr(f"(grn - 1) div {SHARD_SIZE}"))
    )


@register(
    "q_corpus_shuffle_shards",
    tags=("sampling", "llm-pipeline", "scale", "sort"),
    oracle=f"""
        WITH h AS (
            SELECT doc_id, n_chars,
                   {md5_long_sql("'shuf:' || CAST(doc_id AS VARCHAR)")} AS hv
            FROM documents
        ), rn AS (
            SELECT doc_id, n_chars,
                   ROW_NUMBER() OVER (ORDER BY hv, doc_id) AS grn
            FROM h
        )
        SELECT (grn - 1) // {SHARD_SIZE} AS shard_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(MIN(doc_id) AS BIGINT) AS min_doc_id
        FROM rn
        GROUP BY 1
    """,
)
def q_corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic GLOBAL SHUFFLE + sharding — the "shuffle the corpus
    once, write fixed-size training shards" step of every pretraining
    data build, done WITHOUT a single-partition global sort: each doc
    gets a pseudorandom rank hash, docs are range-bucketed on the hash's
    top bits ({SHUFFLE_BUCKETS} buckets), bucket counts (tiny) are
    prefix-summed into absolute offsets, and the global row number is
    offset + within-bucket row_number.  Shard = rn div {SHARD_SIZE}.

    The ORACLE computes the same shards with a naive single-sequence
    ROW_NUMBER — the hash match proves the two-phase distributed
    construction equals the global sort.  At 100 TB the bucketed form is
    the only viable one: the data-sized sort runs as
    {SHUFFLE_BUCKETS}-way range-partitioned local sorts (exactly what
    ``repartitionByRange`` + per-partition offsets does on a cluster),
    while the only global step touches {SHUFFLE_BUCKETS} count rows."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return (
        shard_assignments(docs)
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# 7. weighted dataset mixing


@register(
    "q_corpus_mix_weighted",
    tags=("sampling", "llm-pipeline", "window"),
    oracle=f"""
        WITH src AS (
            SELECT source,
                   CAST(substr(source, 4, 10) AS INT) % 3 + 1 AS weight,
                   COUNT(*) AS n_available
            FROM documents GROUP BY 1
        ), tot AS (
            SELECT SUM(weight) AS sum_w FROM src
        ), quota AS (
            SELECT s.source, s.weight, s.n_available,
                   CAST(FLOOR({MIX_EPOCH} * s.weight * 1.0 / t.sum_w)
                        AS BIGINT) AS quota
            FROM src s CROSS JOIN tot t
        ), ranked AS (
            SELECT d.source, d.n_chars,
                   ROW_NUMBER() OVER (
                       PARTITION BY d.source
                       ORDER BY {md5_long_sql("'mix:' || CAST(doc_id AS VARCHAR)")},
                                d.doc_id
                   ) AS rn
            FROM documents d
        )
        SELECT q.source,
               CAST(q.weight AS BIGINT) AS weight,
               q.quota,
               CAST(q.n_available AS BIGINT) AS n_available,
               CAST(SUM(CASE WHEN r.rn <= q.quota THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_selected,
               CAST(SUM(CASE WHEN r.rn <= q.quota THEN r.n_chars ELSE 0 END)
                    AS BIGINT) AS sel_chars
        FROM ranked r JOIN quota q USING (source)
        GROUP BY 1, 2, 3, 4
    """,
)
def q_corpus_mix_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED dataset mixing — the multi-source blend step (books ×3,
    web ×1, ...) that turns per-source corpora into one training epoch:
    each source gets a quota proportional to its weight (derived here
    from the source id so both engines agree), and the quota is filled
    by deterministic hash-priority sampling within the source, making
    the epoch reproducible run-over-run — resumable pretraining depends
    on exactly this property.

    Plan: per-source quotas come from a 20-row aggregate (broadcast);
    selection is one rank window partitioned by source.  At 100 TB a
    single source's partition can exceed one task, so the window would
    be replaced by the same two-phase bucket trick as
    ``q_corpus_shuffle_shards`` (hash-bucket within source, prefix-sum
    offsets) — the semantics here are identical, and per-source
    parallelism is already the right unit for the plain window when
    sources number in the hundreds."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    src = docs.groupBy("source").agg(F.count("*").alias("n_available"))
    src = src.withColumn(
        "weight",
        F.expr("CAST(substring(source, 4, 10) AS INT) % 3 + 1"),
    )
    # ROUND-11 (guide §2.4): the weight total was a separate aggregate
    # branch crossJoined back on — a full replay of the per-source doc
    # aggregation for one number. A global window over the
    # |sources|-sized aggregate computes it in place (single-partition
    # window is safe here: sources number in the tens/hundreds at any
    # corpus scale). Doc scans 3 → 2.
    quota = src.select(
        "source",
        "weight",
        "n_available",
        F.floor(
            F.lit(MIX_EPOCH)
            * F.col("weight")
            / F.sum("weight").over(Window.partitionBy())
        )
        .cast("long")
        .alias("quota"),
    )
    w = Window.partitionBy("source").orderBy(
        md5_long(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))),
        "doc_id",
    )
    ranked = docs.withColumn("rn", F.row_number().over(w))
    sel = F.when(F.col("rn") <= F.col("quota"), 1).otherwise(0)
    sel_chars = F.when(F.col("rn") <= F.col("quota"), F.col("n_chars")).otherwise(0)
    return (
        ranked.join(F.broadcast(quota), "source")
        .groupBy("source", "weight", "quota", "n_available")
        .agg(
            F.sum(sel).alias("n_selected"),
            F.sum(sel_chars).alias("sel_chars"),
        )
        .select(
            "source",
            F.col("weight").cast("long").alias("weight"),
            "quota",
            F.col("n_available").cast("long").alias("n_available"),
            "n_selected",
            "sel_chars",
        )
    )


# ---------------------------------------------------------------------------
# 8. incremental-ingest composite pipeline

INGEST_SEEN_MAX = 0.5  # reject docs with >= 50% of shingles already seen
INGEST_MIN_TOKENS = 20  # quality gate


@register(
    "q_pipeline_incremental_ingest",
    tags=("pipeline", "dedup", "bloom", "llm-pipeline", "scale"),
    oracle=f"""
        WITH base AS (
            SELECT doc_id, source, {_FILTERED_TOKS} AS toks FROM documents
        ), sh AS (
            SELECT doc_id, UNNEST({shingles_sql('toks')}) AS s FROM base
        ), seen_bits AS (
            SELECT DISTINCT {_bloom_pos_sql('s', 0)} AS pos
            FROM sh WHERE doc_id % 2 = 0
            UNION
            SELECT DISTINCT {_bloom_pos_sql('s', 1)} FROM sh WHERE doc_id % 2 = 0
            UNION
            SELECT DISTINCT {_bloom_pos_sql('s', 2)} FROM sh WHERE doc_id % 2 = 0
            UNION
            SELECT DISTINCT {_bloom_pos_sql('s', 3)} FROM sh WHERE doc_id % 2 = 0
        ), probe AS (
            SELECT doc_id, s, COUNT(*) AS hits FROM (
                SELECT sh.doc_id, sh.s,
                       CASE u.k WHEN 0 THEN {_bloom_pos_sql('s', 0)}
                                WHEN 1 THEN {_bloom_pos_sql('s', 1)}
                                WHEN 2 THEN {_bloom_pos_sql('s', 2)}
                                ELSE {_bloom_pos_sql('s', 3)} END AS pos
                FROM sh CROSS JOIN UNNEST([0,1,2,3]) AS u(k)
                WHERE doc_id % 2 = 1
            ) p JOIN seen_bits USING (pos)
            GROUP BY 1, 2
        ), ratio AS (
            SELECT sh.doc_id,
                   SUM(CASE WHEN p.hits = {BLOOM_K} THEN 1 ELSE 0 END)
                       * 1.0 / COUNT(*) AS seen_ratio
            FROM sh LEFT JOIN probe p
                ON sh.doc_id = p.doc_id AND sh.s = p.s
            WHERE sh.doc_id % 2 = 1
            GROUP BY 1
        )
        SELECT b.source,
               CAST(COUNT(*) AS BIGINT) AS n_incoming,
               CAST(SUM(CASE WHEN r.seen_ratio < {INGEST_SEEN_MAX}
                              AND len(b.toks) >= {INGEST_MIN_TOKENS}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
               CAST(SUM(CASE WHEN r.seen_ratio < {INGEST_SEEN_MAX}
                              AND len(b.toks) >= {INGEST_MIN_TOKENS}
                             THEN len(b.toks) ELSE 0 END) AS BIGINT)
                   AS admitted_tokens
        FROM base b JOIN ratio r USING (doc_id)
        WHERE b.doc_id % 2 = 1
        GROUP BY 1
    """,
)
def q_pipeline_incremental_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL-INGEST composite — the nightly-crawl admission DAG as
    one plan: Bloom-screen incoming documents (odd doc_ids) against the
    reference corpus's bit set, reject docs whose shingles are
    >= {INGEST_SEEN_MAX:.0%} already-seen (near-dups of existing data),
    apply the {INGEST_MIN_TOKENS}-token quality floor, and report
    per-source admission counts + token volume — the numbers a corpus
    curator actually watches per ingest batch.

    Plan: one Catalyst DAG — the screen is the broadcast bit-set probe
    (`bloom_probe`), admission is a per-doc predicate, the rollup is a
    20-group aggregate.  The reference bit set is the only state carried
    between ingest batches, and it is bounded by m regardless of how
    much corpus it absorbs — exactly why incremental crawls Bloom-screen
    instead of re-running full pairwise dedup per batch (the full MinHash
    tier then runs periodically over admitted docs only)."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text", _toks().alias("toks")
    )
    sh = shingle_rows(docs.select("doc_id", "text"))
    seen_bits = bloom_bits(sh.filter(F.col("doc_id") % 2 == 0))
    ratio = bloom_probe(
        sh.filter(F.col("doc_id") % 2 == 1), seen_bits
    ).select("doc_id", "seen_ratio")
    incoming = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "source", F.size("toks").alias("n_toks")
    )
    admitted = (F.col("seen_ratio") < INGEST_SEEN_MAX) & (
        F.col("n_toks") >= INGEST_MIN_TOKENS
    )
    return (
        incoming.join(ratio, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_incoming"),
            F.sum(F.when(admitted, 1).otherwise(0)).alias("n_admitted"),
            F.sum(F.when(admitted, F.col("n_toks")).otherwise(0)).alias(
                "admitted_tokens"
            ),
        )
    )


# ---------------------------------------------------------------------------
# 9. KMV set-operation estimates (theta-sketch style)


def _kmv_cte(name: str, where: str) -> str:
    """CTE pair: distinct KMV hashes of user_id under ``where``, then
    the k-smallest summary (kth min + realized k)."""
    h = md5_long_sql("'kmv:' || CAST(user_id AS VARCHAR)")
    return f"""{name}_h AS (
            SELECT DISTINCT {h} AS hv FROM events WHERE {where}
        ), {name}_k AS (
            SELECT MAX(hv) AS hk, COUNT(*) AS kk
            FROM (SELECT hv FROM {name}_h ORDER BY hv LIMIT {KMV_K})
        )"""


@register(
    "q_sketch_kmv_setops",
    tags=("sketch", "setop", "agg", "scale"),
    oracle=f"""
        WITH {_kmv_cte('a', "event_type = 'click'")},
        {_kmv_cte('b', "event_type = 'purchase'")},
        u_h AS (
            SELECT hv FROM a_h UNION SELECT hv FROM b_h
        ), u_k AS (
            SELECT MAX(hv) AS hk, COUNT(*) AS kk
            FROM (SELECT hv FROM u_h ORDER BY hv LIMIT {KMV_K})
        ), ex AS (
            SELECT CAST(COUNT(DISTINCT CASE WHEN event_type = 'click'
                                            THEN user_id END) AS BIGINT)
                       AS exact_a,
                   CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase'
                                            THEN user_id END) AS BIGINT)
                       AS exact_b,
                   CAST(COUNT(DISTINCT CASE WHEN event_type
                                            IN ('click', 'purchase')
                                            THEN user_id END) AS BIGINT)
                       AS exact_union
            FROM events
        )
        SELECT ROUND((a_k.kk - 1) * {float(HASH_SPACE)} / a_k.hk, 4)
                   AS est_a,
               ROUND((b_k.kk - 1) * {float(HASH_SPACE)} / b_k.hk, 4)
                   AS est_b,
               ROUND((u_k.kk - 1) * {float(HASH_SPACE)} / u_k.hk, 4)
                   AS est_union,
               ROUND((a_k.kk - 1) * {float(HASH_SPACE)} / a_k.hk
                     + (b_k.kk - 1) * {float(HASH_SPACE)} / b_k.hk
                     - (u_k.kk - 1) * {float(HASH_SPACE)} / u_k.hk, 4)
                   AS est_intersection,
               ex.exact_a, ex.exact_b, ex.exact_union,
               CAST(ex.exact_a + ex.exact_b - ex.exact_union AS BIGINT)
                   AS exact_intersection
        FROM a_k CROSS JOIN b_k CROSS JOIN u_k CROSS JOIN ex
    """,
)
def q_sketch_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV SET-OPERATION estimates (the theta-sketch use case): distinct
    clickers, distinct purchasers, their UNION — estimated by merging
    the two k-minimum-values sketches (union of hash sets → k smallest;
    sketch merge is exactly how theta/KMV sketches compose) — and the
    INTERSECTION by inclusion-exclusion, each next to its exact value.
    This is the audience-overlap query every analytics store answers
    from pre-aggregated per-segment sketches instead of re-scanning raw
    events.

    Plan: each sketch is a distinct + TakeOrdered top-k (fixed-size
    mergeable state per partition — at 100 TB the sketches live in a
    per-segment summary table of {KMV_K} longs each and the merge never
    touches the fact table); the exacts ride one conditional
    count-distinct pass to ground the errors."""
    ev = table(spark, sf_dir, "events")
    hv = md5_long(
        F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))
    ).alias("hv")

    def sketch(pred):
        h = ev.filter(pred).select(hv).distinct()
        return h.orderBy("hv").limit(KMV_K).agg(
            F.max("hv").alias("hk"), F.count("*").alias("kk")
        )

    a_h = ev.filter(F.col("event_type") == "click").select(hv).distinct()
    b_h = ev.filter(F.col("event_type") == "purchase").select(hv).distinct()
    a_k = sketch(F.col("event_type") == "click")
    b_k = sketch(F.col("event_type") == "purchase")
    u_k = (
        a_h.union(b_h)
        .distinct()
        .orderBy("hv")
        .limit(KMV_K)
        .agg(F.max("hv").alias("hk"), F.count("*").alias("kk"))
    )
    ex = ev.agg(
        F.countDistinct(
            F.when(F.col("event_type") == "click", F.col("user_id"))
        ).alias("exact_a"),
        F.countDistinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("exact_b"),
        F.countDistinct(
            F.when(
                F.col("event_type").isin("click", "purchase"),
                F.col("user_id"),
            )
        ).alias("exact_union"),
    )

    def est(kdf):
        return (F.col(f"{kdf}_kk") - 1) * F.lit(float(HASH_SPACE)) / F.col(
            f"{kdf}_hk"
        )

    joined = (
        a_k.select(F.col("hk").alias("a_hk"), F.col("kk").alias("a_kk"))
        .crossJoin(
            F.broadcast(
                b_k.select(
                    F.col("hk").alias("b_hk"), F.col("kk").alias("b_kk")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                u_k.select(
                    F.col("hk").alias("u_hk"), F.col("kk").alias("u_kk")
                )
            )
        )
        .crossJoin(F.broadcast(ex))
    )
    return joined.select(
        F.round(est("a"), 4).alias("est_a"),
        F.round(est("b"), 4).alias("est_b"),
        F.round(est("u"), 4).alias("est_union"),
        F.round(est("a") + est("b") - est("u"), 4).alias(
            "est_intersection"
        ),
        "exact_a",
        "exact_b",
        "exact_union",
        (F.col("exact_a") + F.col("exact_b") - F.col("exact_union"))
        .cast("long")
        .alias("exact_intersection"),
    )


# ---------------------------------------------------------------------------
# 10. per-source distribution shift (KL divergence)


@register(
    "q_corpus_source_kl",
    tags=("text", "llm-pipeline", "quality", "stats"),
    oracle="""
        WITH w AS (
            SELECT source, word FROM (
                SELECT source, UNNEST(string_split(text, ' ')) AS word
                FROM documents
            ) WHERE word <> ''
        ), sc AS (
            SELECT source, word, COUNT(*) AS cnt FROM w GROUP BY 1, 2
        ), st AS (
            SELECT source, CAST(SUM(cnt) AS BIGINT) AS stot
            FROM sc GROUP BY 1
        ), gc AS (
            SELECT word, CAST(SUM(cnt) AS BIGINT) AS gcnt FROM sc GROUP BY 1
        ), gt AS (
            SELECT CAST(SUM(gcnt) AS BIGINT) AS gtot FROM gc
        )
        SELECT sc.source,
               CAST(MAX(st.stot) AS BIGINT) AS n_tokens,
               ROUND(CAST(SUM(CAST(
                         (sc.cnt * 1.0 / st.stot)
                         * ln((sc.cnt * 1.0 / st.stot)
                              / (gc.gcnt * 1.0 / gt.gtot))
                     AS DECIMAL(28,10))) AS DOUBLE), 6) AS kl_nats
        FROM sc
        JOIN st USING (source)
        JOIN gc USING (word)
        CROSS JOIN gt
        GROUP BY 1
    """,
)
def q_corpus_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOMAIN-SHIFT audit: KL divergence of each source's unigram
    distribution from the whole-corpus distribution (nats) — the
    monitoring number a corpus curator watches per ingest source: a
    source drifting away from the mix (scraper broke, language flipped,
    spam burst) spikes its KL before any downstream eval moves.  Every
    source word also appears in the corpus distribution by construction,
    so the divergence is always finite — no smoothing term needed.

    Plan: one (source, word) count aggregation (partial-combined), the
    per-source totals as a 20-row broadcast, the corpus distribution
    re-aggregated FROM the per-source counts (never a second scan of the
    text) and broadcast back onto the (source, word) rows — vocab-sized,
    same broadcast-over-Zipf-skew reasoning as q_corpus_unigram_logprob;
    the final rollup is 20 groups."""
    docs = table(spark, sf_dir, "documents").select("source", "text")
    w = docs.select(
        "source", F.explode(tokens(F.col("text"))).alias("word")
    ).filter(F.col("word") != "")
    sc = w.groupBy("source", "word").agg(F.count("*").alias("cnt"))
    # ROUND-11 (guide §2.4, audit rescan=4): the per-source totals and
    # the corpus word counts were broadcast-join branches, each
    # re-deriving the tokenize + (source, word) aggregation — four
    # corpus tokenize passes in all. Both now ride WINDOWS over the
    # vocab-sized sc table (sum-over-word has ≤ |sources| rows per word,
    # so the word key is NOT Zipf-hot here, unlike the raw token stream
    # q_corpus_unigram_logprob keeps as a join); the grand total is a
    # count-only second pass (no (source, word) shuffle). Tokenize
    # derivations 4 → 2; source-window last so the final per-source
    # rollup reuses its partitioning (no extra exchange).
    gt = w.agg(F.count("*").alias("gtot"))
    enriched = sc.withColumn(
        "gcnt", F.sum("cnt").over(Window.partitionBy("word"))
    ).withColumn(
        "stot", F.sum("cnt").over(Window.partitionBy("source"))
    )
    p = F.col("cnt") / F.col("stot")
    q = F.col("gcnt") / F.col("gtot")
    return (
        enriched.crossJoin(F.broadcast(gt))
        .groupBy("source")
        .agg(
            F.max("stot").cast("long").alias("n_tokens"),
            # decimal(28,10) accumulation — see q_corpus_unigram_logprob.
            F.round(
                F.sum(
                    (p * F.log(p / q)).cast("decimal(28,10)")
                ).cast("double"),
                6,
            ).alias("kl_nats"),
        )
    )


# ---------------------------------------------------------------------------
# 11. bigram-LM document scoring (add-k smoothed)

BIGRAM_K = 0.5  # add-k smoothing constant


@register(
    "q_corpus_bigram_logprob",
    tags=("text", "llm-pipeline", "quality"),
    oracle=f"""
        WITH base AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), w -> w <> '')
                       AS toks
            FROM documents
        ), bg AS (
            SELECT doc_id, UNNEST(
                list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i + 1])
            ) AS bigram,
            UNNEST(list_transform(range(1, len(toks)), i -> toks[i]))
                AS w1
            FROM base WHERE len(toks) >= 2
        ), bc AS (
            SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c12
            FROM bg GROUP BY 1
        ), uc AS (
            SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM bg GROUP BY 1
        ), v AS (
            SELECT CAST(COUNT(DISTINCT w1) AS BIGINT) AS vsize FROM bg
        )
        SELECT bg.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               ROUND(CAST(SUM(CAST(
                   ln((bc.c12 + {BIGRAM_K})
                      / (uc.c1 + {BIGRAM_K} * v.vsize))
                   AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*), 6)
                   AS avg_logprob
        FROM bg
        JOIN bc USING (bigram)
        JOIN uc USING (w1)
        CROSS JOIN v
        GROUP BY 1
    """,
)
def q_corpus_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIGRAM-LM document scoring with add-{BIGRAM_K} smoothing — the
    next rung above ``q_corpus_unigram_logprob`` on the cheap-perplexity
    ladder: P(w₂|w₁) = (c(w₁w₂)+k) / (c(w₁)+k·V), scored as each doc's
    mean bigram log-probability.  Catches scrambled/gibberish text the
    unigram proxy scores as fluent (right words, wrong order).

    Plan (ROUND-10 OPTIMIZATION, guide §2.4): bigram construction is a
    narrow per-row transform (no explode until the bigram is a scalar
    string). The bigram count rides the stream as a WINDOW over the
    bigram key — the bigram distribution is much flatter than Zipf, so
    windowing it is skew-safe, and it removes one full
    tokenize+concat derivation plus a join that the groupBy+join form
    paid. The w₁ count deliberately STAYS a join: hot heads ('the …')
    make it Zipf-skewed and AQE's skew-join split applies to joins
    only, not windows.  V and the per-doc rollup are aggregate-sized.
    decimal(28,10) accumulation keeps the mean order-independent."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    d = docs.select("doc_id", _toks().alias("toks")).filter(
        F.size("toks") >= 2
    )
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.struct(
            F.concat_ws(
                " ",
                F.element_at(F.col("toks"), i),
                F.element_at(F.col("toks"), i + 1),
            ).alias("bigram"),
            F.element_at(F.col("toks"), i).alias("w1"),
        ),
    )
    bg = d.select("doc_id", F.explode(bigrams).alias("p")).select(
        "doc_id", F.col("p.bigram").alias("bigram"), F.col("p.w1").alias("w1")
    )
    from pyspark.sql import Window

    uc = bg.groupBy("w1").agg(F.count("*").alias("c1"))
    v = bg.agg(F.countDistinct("w1").alias("vsize"))
    logp = F.log(
        (F.col("c12") + F.lit(BIGRAM_K))
        / (F.col("c1") + F.lit(BIGRAM_K) * F.col("vsize"))
    )
    return (
        bg.withColumn(
            "c12", F.count("*").over(Window.partitionBy("bigram"))
        )
        .join(uc, "w1")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.sum(logp.cast("decimal(28,10)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_logprob"),
        )
    )


# --- mergeable equi-width histogram quantile sketch -------------------------
HQ_BINS = 64
HQ_QUANTILES = (0.5, 0.9, 0.99)


@register(
    "q_sketch_hist_quantile",
    tags=("sketch", "stats", "scale"),
    oracle=f"""
        WITH stats AS (
            SELECT MIN(value) AS mn, MAX(value) AS mx,
                   COUNT(*) AS n
            FROM events
        ),
        binned AS (
            SELECT LEAST({HQ_BINS} - 1, CAST(floor(
                       (e.value - s.mn) / ((s.mx - s.mn) / {HQ_BINS})
                   ) AS BIGINT)) AS bin
            FROM events e, stats s
        ),
        hist AS (
            SELECT bin, COUNT(*) AS cnt FROM binned GROUP BY bin
        ),
        cum AS (
            SELECT bin, cnt,
                   SUM(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
                       AS cum,
                   SUM(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
                       - cnt AS cum_prev
            FROM hist
        ),
        qs AS (SELECT unnest([{", ".join(f"CAST({q} AS DOUBLE)" for q in HQ_QUANTILES)}]) AS q),
        hit AS (
            SELECT q, bin, cnt, cum_prev, rn FROM (
                SELECT qs.q, c.bin, c.cnt, c.cum_prev,
                       ROW_NUMBER() OVER (PARTITION BY qs.q ORDER BY c.bin)
                           AS rn
                FROM qs JOIN cum c ON c.cum >= qs.q * (SELECT n FROM stats)
            ) WHERE rn = 1
        ),
        est AS (
            SELECT h.q,
                   s.mn + ((s.mx - s.mn) / {HQ_BINS})
                        * (h.bin + (h.q * s.n - h.cum_prev) / h.cnt)
                       AS est
            FROM hit h, stats s
        ),
        exact AS (
            SELECT unnest([{", ".join(f"CAST({q} AS DOUBLE)" for q in HQ_QUANTILES)}]) AS q,
                   unnest([{", ".join(
                       f"quantile_cont(value, {q})" for q in HQ_QUANTILES
                   )}]) AS exact
            FROM events
        )
        SELECT e.q, ROUND(x.est, 4) AS est, ROUND(e.exact, 4) AS exact,
               ROUND(abs(x.est - e.exact), 4) AS abs_err
        FROM exact e JOIN est x ON e.q = x.q
    """,
)
def q_sketch_hist_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUI-WIDTH HISTOGRAM quantile sketch: a {HQ_BINS}-bin fixed-width
    histogram (one agg pass; bins are MERGEABLE across partitions,
    machines, and days — the property exact quantiles lack) answers
    P50/P90/P99 by linear interpolation inside the covering bin, with
    the exact interpolated quantile alongside as the realized-error
    audit. The cheap first rung of the quantile-sketch ladder (below
    KLL/t-digest): at 100 TB the full histogram is {HQ_BINS} longs per
    partition folded by the partial agg, and the estimate's error is
    bounded by bin width, reported not assumed.

    Determinism: bin edges derive from global MIN/MAX doubles; bin
    assignment, cumulative ranks, and interpolation are identical
    rational arithmetic in both engines (both sides round at 4 dp).

    Plan: one scan feeds the stats agg and (via a broadcast single-row
    join) the binning pass; the cumulative window runs over {HQ_BINS}
    rows; exact quantiles for the audit are Spark's percentile agg."""
    ev = table(spark, sf_dir, "events")
    stats = ev.agg(
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
        F.count("*").alias("n"),
    )
    width = (F.col("mx") - F.col("mn")) / HQ_BINS
    binned = ev.crossJoin(F.broadcast(stats)).select(
        F.least(
            F.lit(HQ_BINS - 1),
            F.floor((F.col("value") - F.col("mn")) / width).cast("long"),
        ).alias("bin")
    )
    hist = binned.groupBy("bin").agg(F.count("*").alias("cnt"))
    wcum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "bin",
        "cnt",
        F.sum("cnt").over(wcum).alias("cum"),
        (F.sum("cnt").over(wcum) - F.col("cnt")).alias("cum_prev"),
    )
    qs = spark.createDataFrame(
        [(q,) for q in HQ_QUANTILES], "q double"
    )
    whit = Window.partitionBy("q").orderBy("bin")
    hit = (
        cum.crossJoin(F.broadcast(qs))
        .crossJoin(F.broadcast(stats))
        .filter(F.col("cum") >= F.col("q") * F.col("n"))
        .withColumn("rn", F.row_number().over(whit))
        .filter(F.col("rn") == 1)
    )
    est = hit.select(
        "q",
        (
            F.col("mn")
            + width
            * (
                F.col("bin")
                + (F.col("q") * F.col("n") - F.col("cum_prev"))
                / F.col("cnt")
            )
        ).alias("est"),
    )
    exact = ev.agg(
        *[
            F.expr(f"percentile(value, {q})").alias(f"e{i}")
            for i, q in enumerate(HQ_QUANTILES)
        ]
    ).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).alias("q"), F.col(f"e{i}").alias("exact")
                    )
                    for i, q in enumerate(HQ_QUANTILES)
                ]
            )
        ).alias("s")
    ).select(F.col("s.q").alias("q"), F.col("s.exact").alias("exact"))
    return (
        exact.join(est, "q")
        .select(
            "q",
            F.round("est", 4).alias("est"),
            F.round("exact", 4).alias("exact"),
            F.round(F.abs(F.col("est") - F.col("exact")), 4).alias("abs_err"),
        )
    )


CARD_MIN_WORDS = 5  # dataset-card pass gate (Gopher-style hard bounds)
CARD_MAX_WORDS = 1_000


@register(
    "q_dataset_card",
    tags=("corpus", "llm-pipeline", "audit"),
    oracle=f"""
        WITH per_doc AS (
            SELECT source, lang, text, n_chars,
                   len(list_filter(string_split(text, ' '),
                                   w -> w <> '')) AS n_words
            FROM documents
        ),
        base AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_words) AS BIGINT) AS total_words,
                   CAST(COUNT(DISTINCT text) AS BIGINT) AS distinct_texts,
                   CAST(COUNT(*) FILTER (
                       WHERE n_words BETWEEN {CARD_MIN_WORDS}
                                         AND {CARD_MAX_WORDS}
                   ) AS BIGINT) AS n_pass,
                   ROUND(SUM(n_chars) * 1.0 / COUNT(*), 2) AS avg_chars
            FROM per_doc
            GROUP BY 1
        ),
        lang_mode AS (
            SELECT source, lang AS top_lang FROM (
                SELECT source, lang,
                       ROW_NUMBER() OVER (
                           PARTITION BY source
                           ORDER BY COUNT(*) DESC, lang
                       ) AS rn
                FROM per_doc GROUP BY source, lang
            ) WHERE rn = 1
        )
        SELECT b.source, b.n_docs, b.total_words,
               b.n_docs - b.distinct_texts AS n_exact_dups,
               ROUND((b.n_docs - b.distinct_texts) * 1.0 / b.n_docs, 4)
                   AS dup_rate,
               ROUND(b.n_pass * 1.0 / b.n_docs, 4) AS quality_pass_rate,
               b.avg_chars, m.top_lang
        FROM base b JOIN lang_mode m ON m.source = b.source
    """,
)
def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATASET CARD: the per-source summary a training-data pipeline
    publishes with every corpus release — doc counts, word volume,
    within-source exact-duplicate rate, hard-gate quality pass rate
    ({CARD_MIN_WORDS}..{CARD_MAX_WORDS} words), average length, and
    dominant language. One report row per source.

    Plan: one pass computes per-doc word counts inline and rolls
    everything source-keyed (the text-distinct is the only
    payload-sized shuffle and keys on the text bytes — at 100 TB you
    swap it for the sha256-key trick ``q_dedup_exact`` uses, same
    cardinality); the dominant-language mode is a (source, lang)-sized
    aggregate with a deterministic (count DESC, lang) argmax window,
    broadcast back onto the |sources| report rows. All rates divide
    exact integers, rounded identically in both engines."""
    docs = table(spark, sf_dir, "documents")
    n_words = F.size(
        F.filter(F.split("text", " "), lambda w: w != "")
    )
    per_doc = docs.select(
        "source", "lang", "text", "n_chars", n_words.alias("n_words")
    )
    base = per_doc.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("total_words"),
        F.count_distinct("text").cast("bigint").alias("distinct_texts"),
        F.count_if(
            F.col("n_words").between(CARD_MIN_WORDS, CARD_MAX_WORDS)
        )
        .cast("bigint")
        .alias("n_pass"),
        F.round(F.sum("n_chars") / F.count("*"), 2).alias("avg_chars"),
    )
    lw = Window.partitionBy("source").orderBy(
        F.desc("cnt"), F.asc("lang")
    )
    lang_mode = (
        per_doc.groupBy("source", "lang")
        .agg(F.count("*").alias("cnt"))
        .withColumn("rn", F.row_number().over(lw))
        .filter(F.col("rn") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    dups = F.col("n_docs") - F.col("distinct_texts")
    return base.join(F.broadcast(lang_mode), "source").select(
        "source",
        "n_docs",
        "total_words",
        dups.alias("n_exact_dups"),
        F.round(dups / F.col("n_docs"), 4).alias("dup_rate"),
        F.round(F.col("n_pass") / F.col("n_docs"), 4).alias(
            "quality_pass_rate"
        ),
        "avg_chars",
        "top_lang",
    )
