"""Text-analysis operators over ``documents`` (SURVEY.md §7 Phase 5) —
language-ID heuristic, quality scoring, token counting (whitespace + a
BPE-ish regex lexer), word counts, document fingerprinting. All built-ins;
every query oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caches import session_memo
from ..catalog import table
from ..functions.hashing import md5_long, md5_long_sql
from ..functions.text import (
    BPE_TOKEN_RE,
    EN_STOPWORDS,
    bpe_token_count,
    shingles,
    shingles_sql,
    stopword_ratio,
    stopword_ratio_sql,
    tokens,
)
from ..plans.registry import register

LANGID_THRESHOLD = 0.04


@register(
    "q_text_wordcounts",
    headline=True,
    tags=("text", "agg"),
    oracle="""
        SELECT word, COUNT(*) AS cnt
        FROM (
            SELECT unnest(string_split(text, ' ')) AS word FROM documents
        )
        WHERE word <> ''
        GROUP BY 1
    """,
)
def q_text_wordcounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus word counts — tokenize/explode/groupBy (the canonical
    shuffle-on-word job; partial aggregation collapses each task to the
    vocabulary size before the shuffle)."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "q_text_lang_stats",
    tags=("text", "agg"),
    oracle="""
        SELECT lang, COUNT(*) AS n_docs,
               ROUND(AVG(len(string_split(text, ' '))), 6) AS avg_tokens,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY 1
    """,
)
def q_text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus stats (doc counts, token lengths, char
    volume)."""
    docs = table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg(F.size(tokens(F.col("text")))), 6).alias("avg_tokens"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "q_text_langid",
    tags=("text", "heuristic"),
    oracle=f"""
        SELECT doc_id,
               CASE WHEN {stopword_ratio_sql("string_split(text, ' ')")}
                         > {LANGID_THRESHOLD}
                    THEN 'en' ELSE 'other' END AS pred_lang,
               ROUND({stopword_ratio_sql("string_split(text, ' ')")}, 6)
                   AS en_score
        FROM documents
    """,
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-heuristic language ID: English-stopword density. (The
    synthetic corpus is English-ish regardless of its ``lang`` tag; the
    operator's value is the deterministic, scale-free scoring shape —
    a real model swaps in per-language n-gram tables the same way.)"""
    docs = table(spark, sf_dir, "documents")
    ratio = stopword_ratio(tokens(F.col("text")))
    return docs.select(
        "doc_id",
        F.when(ratio > LANGID_THRESHOLD, "en").otherwise("other").alias(
            "pred_lang"
        ),
        F.round(ratio, 6).alias("en_score"),
    )


@register(
    "q_text_quality",
    tags=("text", "heuristic"),
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_tokens,
                   len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS n_punct,
                   n_chars,
                   {stopword_ratio_sql("string_split(text, ' ')")} AS sw_ratio
            FROM documents
        )
        SELECT doc_id,
               ROUND(0.4 * LEAST(n_tokens / 50.0, 1.0)
                     + 0.3 * (1.0 - LEAST(n_punct * 1.0 / n_chars, 1.0))
                     + 0.3 * LEAST(sw_ratio * 10.0, 1.0), 6) AS quality
        FROM t
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score in [0,1]: length saturation + punctuation
    cleanliness + stopword naturalness (the classic pre-training quality
    gate shape — each component swaps for a learned scorer the same
    way)."""
    docs = table(spark, sf_dir, "documents")
    n_tokens = F.size(tokens(F.col("text")))
    n_punct = F.size(F.regexp_extract_all(F.col("text"), F.lit("[^a-zA-Z0-9 ]"), 0))
    sw = stopword_ratio(tokens(F.col("text")))
    quality = (
        F.lit(0.4) * F.least(n_tokens / F.lit(50.0), F.lit(1.0))
        + F.lit(0.3)
        * (F.lit(1.0) - F.least(n_punct / F.col("n_chars"), F.lit(1.0)))
        + F.lit(0.3) * F.least(sw * 10.0, F.lit(1.0))
    )
    return docs.select("doc_id", F.round(quality, 6).alias("quality"))


@register(
    "q_text_token_counts",
    tags=("text", "tokenize"),
    oracle=f"""
        SELECT doc_id,
               len(string_split(text, ' ')) AS ws_tokens,
               len(regexp_extract_all(text, '{BPE_TOKEN_RE}')) AS bpe_tokens
        FROM documents
    """,
)
def q_text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting both ways: whitespace and the BPE-ish regex lexer
    (letter runs | digit runs | single symbols) — the budget estimator for
    training-data pipelines."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).alias("ws_tokens"),
        bpe_token_count(F.col("text")).alias("bpe_tokens"),
    )


@register(
    "q_text_fingerprint",
    tags=("text", "hash"),
    oracle=f"""
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS words FROM documents
        )
        SELECT doc_id,
               {md5_long_sql("array_to_string(list_sort(list_distinct(words)), ' ')")}
                   AS bag_fp,
               (SELECT MIN({md5_long_sql('s')})
                FROM unnest({shingles_sql('words')}) t(s)) AS min_shingle_fp
        FROM w
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: (a) bag-of-words hash (order-insensitive —
    reordered near-dups collide), (b) min-shingle hash (a 1-function
    MinHash — content-locality preserving). Both 44-bit md5-derived so the
    oracle reproduces them bit-for-bit."""
    docs = table(spark, sf_dir, "documents")
    words = tokens(F.col("text"))
    bag = md5_long(
        F.array_join(F.array_sort(F.array_distinct(words)), " ")
    )
    min_sh = F.array_min(
        F.transform(shingles(words), lambda s: md5_long(s))
    )
    return docs.select(
        "doc_id", bag.alias("bag_fp"), min_sh.alias("min_shingle_fp")
    )


@register(
    "q_text_topwords_per_lang",
    tags=("text", "topk"),
    oracle="""
        WITH wc AS (
            SELECT lang, word, COUNT(*) AS cnt FROM (
                SELECT lang, unnest(string_split(text, ' ')) AS word
                FROM documents
            ) WHERE word <> '' GROUP BY 1, 2
        )
        SELECT lang, word, cnt, rn FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY lang ORDER BY cnt DESC, word
            ) AS rn FROM wc
        ) WHERE rn <= 5
    """,
)
def q_text_topwords_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 words per language — explode + grouped count + rank-filter."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    wc = (
        docs.select("lang", F.explode(tokens(F.col("text"))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("lang", "word")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("word"))
    return wc.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)


@register(
    "q_array_agg_ops",
    tags=("array", "agg"),
    oracle="""
        SELECT user_id,
               array_to_string(
                   list_sort(list_distinct(list(event_type))), ',') AS types,
               len(list_distinct(list(event_type))) AS n_types
        FROM events
        GROUP BY user_id
    """,
)
def q_array_agg_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-aggregation surface (SURVEY.md §2.8 map/array family): per
    user, the sorted distinct event types as one row. Rendered to a
    joined string in BOTH engines so the driver's value hash sees a
    scalar, not engine-specific list encodings."""
    ev = table(spark, sf_dir, "events")
    types = F.array_sort(F.collect_set("event_type"))
    return ev.groupBy("user_id").agg(
        F.array_join(types, ",").alias("types"),
        F.size(types).alias("n_types"),
    )


@register(
    "q_levenshtein_pairs",
    tags=("text", "similarity"),
    oracle="""
        SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
               levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40))
                   AS edit_distance
        FROM documents a
        JOIN documents b
          ON b.doc_id = a.doc_id + 1 AND a.lang = b.lang
    """,
)
def q_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit distance between adjacent same-language documents (first 40
    chars) — the string-similarity scalar on a bounded candidate set (the
    adjacency join stands in for any blocking key; levenshtein is O(len²)
    per pair, so the candidate generator — not the scalar — is what must
    scale)."""
    docs = table(spark, sf_dir, "documents")
    a = docs.alias("a")
    b = docs.alias("b")
    return a.join(
        b,
        (F.col("b.doc_id") == F.col("a.doc_id") + 1)
        & (F.col("a.lang") == F.col("b.lang")),
    ).select(
        F.col("a.doc_id").alias("doc_id_a"),
        F.col("b.doc_id").alias("doc_id_b"),
        F.levenshtein(
            F.substring(F.col("a.text"), 1, 40),
            F.substring(F.col("b.text"), 1, 40),
        ).alias("edit_distance"),
    )


@register(
    "q_pipeline_clean_corpus",
    headline=True,
    tags=("text", "pipeline", "dedup", "sampling", "scale"),
    oracle=f"""
        WITH scored AS (
            SELECT doc_id, lang, text,
                   len(string_split(text, ' ')) AS n_tokens,
                   ROUND(0.4 * LEAST(len(string_split(text, ' ')) / 50.0, 1.0)
                         + 0.3 * (1.0 - LEAST(len(regexp_extract_all(text,
                                   '[^a-zA-Z0-9 ]')) * 1.0 / n_chars, 1.0))
                         + 0.3 * LEAST({stopword_ratio_sql("string_split(text, ' ')")}
                                       * 10.0, 1.0), 6) AS quality
            FROM documents
        ),
        kept AS (
            SELECT * FROM scored
            WHERE quality >= 0.5
              AND doc_id = (SELECT MIN(s2.doc_id) FROM scored s2
                            WHERE md5(s2.text) = md5(scored.text))
        ),
        sampled AS (
            SELECT * FROM kept
            WHERE {md5_long_sql('CAST(doc_id AS VARCHAR)')} % 2 = 0
        )
        SELECT lang, COUNT(*) AS n_docs,
               ROUND(AVG(quality), 6) AS avg_quality,
               ROUND(AVG(n_tokens), 4) AS avg_tokens
        FROM sampled GROUP BY lang
    """,
)
def q_pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite training-data cleaning pipeline as ONE DAG: quality
    gate (score ≥ 0.5) → exact dedup (keep lowest doc_id per content
    hash) → deterministic 50% hash sample → per-language corpus stats.
    One scan feeds everything; the only shuffles are the dedup window
    (content-hash partitioning) and the final per-lang aggregate — at
    100 TB this whole flow is scan → 2 exchanges, no intermediate
    materialization between stages."""
    from pyspark.sql import Window

    from ..functions.hashing import md5_long

    docs = table(spark, sf_dir, "documents")
    n_tokens = F.size(tokens(F.col("text")))
    n_punct = F.size(
        F.regexp_extract_all(F.col("text"), F.lit("[^a-zA-Z0-9 ]"), 0)
    )
    sw = stopword_ratio(tokens(F.col("text")))
    quality = F.round(
        F.lit(0.4) * F.least(n_tokens / F.lit(50.0), F.lit(1.0))
        + F.lit(0.3)
        * (F.lit(1.0) - F.least(n_punct / F.col("n_chars"), F.lit(1.0)))
        + F.lit(0.3) * F.least(sw * 10.0, F.lit(1.0)),
        6,
    )
    scored = docs.select(
        "doc_id", "lang", "text", n_tokens.alias("n_tokens"), quality.alias("quality")
    )
    keeper = F.min("doc_id").over(Window.partitionBy(F.md5(F.col("text"))))
    kept = (
        scored.filter(F.col("quality") >= 0.5)
        .withColumn("keep_id", keeper)
        .filter(F.col("doc_id") == F.col("keep_id"))
    )
    sampled = kept.filter(
        md5_long(F.col("doc_id").cast("string")) % 2 == 0
    )
    return sampled.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
    )


CHUNK_SIZE = 256
CHUNK_STRIDE = 200


@register(
    "q_text_chunking",
    tags=("text", "explode", "scale"),
    oracle=f"""
        WITH expanded AS (
            SELECT doc_id, text,
                   unnest(generate_series(0,
                       CAST(floor((LENGTH(text) - 1) / {CHUNK_STRIDE}.0)
                            AS BIGINT))) AS chunk_id
            FROM documents WHERE LENGTH(text) > 0
        )
        SELECT doc_id, chunk_id,
               md5(substring(text, CAST(chunk_id AS INT) * {CHUNK_STRIDE} + 1,
                             {CHUNK_SIZE})) AS chunk_hash,
               LENGTH(substring(text, CAST(chunk_id AS INT) * {CHUNK_STRIDE} + 1,
                                {CHUNK_SIZE})) AS chunk_len
        FROM expanded
    """,
)
def q_text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style document chunking: fixed {CHUNK_SIZE}-char windows with
    {CHUNK_SIZE - CHUNK_STRIDE}-char overlap, one output row per chunk via
    sequence() + explode (Spark's lateral generate_series). Entirely
    JVM-side — no UDF — and embarrassingly parallel: chunking never
    shuffles, so at 100 TB it pipelines straight into the downstream
    embed/dedup stages. Chunks are emitted as (hash, length) so the
    correctness check pins content without hauling full text through the
    comparator."""
    docs = table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    n_chunks = F.floor((F.length("text") - 1) / CHUNK_STRIDE).cast("long")
    chunk = F.substring(
        F.col("text"), F.col("chunk_id").cast("int") * CHUNK_STRIDE + 1, CHUNK_SIZE
    )
    return (
        docs.select(
            "doc_id", "text", F.explode(F.sequence(F.lit(0).cast("long"), n_chunks)).alias("chunk_id")
        )
        .select(
            "doc_id",
            "chunk_id",
            F.md5(chunk).alias("chunk_hash"),
            F.length(chunk).alias("chunk_len"),
        )
    )


BIGRAM_TOP_N = 20


@register(
    "q_text_bigrams",
    tags=("text", "ngram", "topk"),
    oracle=f"""
        WITH w AS (
            SELECT list_filter(string_split(text, ' '), x -> x <> '')
                       AS words
            FROM documents
        ),
        pairs AS (
            SELECT unnest(list_transform(
                       range(1, len(words)),
                       i -> words[i] || ' ' || words[i + 1])) AS bigram
            FROM w
        ),
        counted AS (
            SELECT bigram, COUNT(*) AS cnt FROM pairs GROUP BY 1
        )
        SELECT bigram, cnt FROM (
            SELECT *, ROW_NUMBER() OVER (ORDER BY cnt DESC, bigram) AS rn
            FROM counted
        ) WHERE rn <= {BIGRAM_TOP_N}
    """,
)
def q_text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{BIGRAM_TOP_N} corpus bigrams — the n-gram generalization of the
    word-count job. Bigrams come from zip_with over shifted slices (O(n)
    per doc, JVM-side; same trick as :func:`..functions.text.shingles` but
    keeping duplicates, since counting needs every occurrence). The pair
    space is vocabulary², but partial aggregation still collapses each task
    to its distinct-bigram count before the shuffle, so at 100 TB the
    exchange carries the bigram dictionary, not the corpus."""
    docs = table(spark, sf_dir, "documents")
    words = F.filter(tokens(F.col("text")), lambda x: x != F.lit(""))
    shifted = F.slice(words, 2, F.size(words))
    # concat() (not concat_ws) so the padded tail null propagates and is
    # filtered, instead of rendering the last word as a 1-gram
    pairs = F.filter(
        F.zip_with(words, shifted, lambda a, b: F.concat(a, F.lit(" "), b)),
        lambda s: s.isNotNull(),
    )
    counted = (
        docs.select(F.explode(pairs).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
    )
    # deterministic top-k (count, then lexical) as TakeOrderedAndProject —
    # no global sort, each partition keeps k rows and the driver merges
    return counted.orderBy(F.desc("cnt"), F.asc("bigram")).limit(BIGRAM_TOP_N)


@register(
    "q_text_entropy",
    tags=("text", "agg", "stats"),
    oracle="""
        WITH wc AS (
            SELECT lang, word, COUNT(*) AS cnt FROM (
                SELECT lang, unnest(string_split(text, ' ')) AS word
                FROM documents
            ) WHERE word <> '' GROUP BY 1, 2
        )
        SELECT lang,
               CAST(SUM(cnt) AS BIGINT) AS n_tokens,
               COUNT(*) AS vocab,
               ROUND(LN(SUM(cnt)) - SUM(cnt * LN(cnt)) / SUM(cnt), 4)
                   AS entropy
        FROM wc GROUP BY lang
    """,
)
def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Shannon entropy of the word distribution (nats) — the
    information-density quality signal (gibberish and boilerplate both
    show up as entropy outliers). Uses the algebraic form
    H = ln(N) - Σ c·ln(c) / N so one grouped aggregate over the (lang,
    word) counts computes it — no per-row probability column, no second
    pass. Rounded to 4 dp: the double Σ c·ln(c) accumulates in engine-
    specific order (same tolerance rationale as q_corr_stats)."""
    docs = table(spark, sf_dir, "documents")
    wc = (
        docs.select("lang", F.explode(tokens(F.col("text"))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("lang", "word")
        .agg(F.count("*").alias("cnt"))
    )
    n = F.sum("cnt")
    return wc.groupBy("lang").agg(
        n.alias("n_tokens"),
        F.count("*").alias("vocab"),
        F.round(
            F.log(n) - F.sum(F.col("cnt") * F.log("cnt")) / n, 4
        ).alias("entropy"),
    )


BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("join", "hash", "column")
BM25_TOP_N = 20


BM25_ORACLE_SQL = f"""
        WITH w AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '')
                       AS words
            FROM documents
        ),
        dl AS (SELECT doc_id, len(words) AS dl FROM w),
        stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
        tf AS (
            SELECT doc_id, word, COUNT(*) AS tf FROM (
                SELECT doc_id, unnest(words) AS word FROM w
            ) WHERE word IN {BM25_TERMS!r} GROUP BY 1, 2
        ),
        df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
        scored AS (
            SELECT tf.doc_id,
                   SUM(LN((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
                       * tf.tf * ({BM25_K1} + 1)
                       / (tf.tf + {BM25_K1} * (1 - {BM25_B}
                          + {BM25_B} * dl.dl / stats.avgdl))) AS score
            FROM tf
            JOIN df USING (word)
            JOIN dl USING (doc_id)
            CROSS JOIN stats
            GROUP BY 1
        )
        SELECT doc_id, ROUND(score, 4) AS bm25
        FROM scored
        ORDER BY ROUND(score, 4) DESC, doc_id
        LIMIT {BM25_TOP_N}
    """


@register(
    "q_text_bm25",
    tags=("text", "similarity", "topk"),
    oracle=BM25_ORACLE_SQL,
)
def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance: top-{BM25_TOP_N} documents for the query terms
    {BM25_TERMS} (k1={BM25_K1}, b={BM25_B}) — the classic retrieval scorer
    a training-data pipeline uses for query-targeted corpus selection.
    The term filter lands BEFORE the tf aggregation, so the shuffle
    carries only matching (doc, term) rows; df (≤|query| rows) and the
    corpus stats (1 row) join in as broadcasts; the final top-k is
    TakeOrderedAndProject, never a global sort. Ordering uses the ROUNDED
    score with a doc_id tie-break so cross-engine ln() ulp drift cannot
    reorder the cut."""
    docs = table(spark, sf_dir, "documents")
    words = F.filter(tokens(F.col("text")), lambda x: x != F.lit(""))
    base = docs.select("doc_id", words.alias("words"))
    dl = base.select("doc_id", F.size("words").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        base.select("doc_id", F.explode("words").alias("word"))
        .filter(F.col("word").isin(*BM25_TERMS))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("word").agg(F.count("*").alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    norm = F.col("tf") + BM25_K1 * (
        1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    scored = (
        tf.join(F.broadcast(df), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(idf * F.col("tf") * (BM25_K1 + 1) / norm), 4
            ).alias("bm25")
        )
    )
    return scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(BM25_TOP_N)


TFIDF_TOP_N = 5


@register(
    "q_text_tfidf",
    tags=("text", "agg", "window"),
    oracle=f"""
        WITH words AS (
            SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
            FROM documents
        ),
        nonempty AS (SELECT * FROM words WHERE word <> ''),
        n_docs AS (SELECT COUNT(*) AS n FROM documents),
        df AS (
            SELECT word, COUNT(DISTINCT doc_id) AS df
            FROM nonempty GROUP BY word
        ),
        tf AS (
            SELECT lang, word, COUNT(*) AS tf
            FROM nonempty GROUP BY lang, word
        ),
        scored AS (
            SELECT tf.lang, tf.word, tf.tf, df.df,
                   ROUND(tf.tf * LN(n_docs.n * 1.0 / df.df), 6) AS tfidf
            FROM tf, df, n_docs
            WHERE tf.word = df.word
        ),
        ranked AS (
            SELECT lang, word, tf, df, tfidf,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY tfidf DESC, word
                   ) AS rn
            FROM scored
        )
        SELECT lang, word, tf, df, tfidf
        FROM ranked WHERE rn <= {TFIDF_TOP_N}
    """,
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: top-{TFIDF_TOP_N} most characteristic terms per language —
    term frequency within the language × inverse document frequency
    across the corpus. One explode feeds both aggregations (Catalyst
    reuses the scan); df joins back on the word (an 8-byte-ish key, and
    at 100 TB a skew-safe shuffle because stopwords' huge tf rows are one
    row per (lang, word), not per occurrence). The rank window orders by
    the ROUNDED score with a word tie-break, so cross-engine last-ulp ln()
    drift cannot reorder the top-k."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("word")
    ).filter(F.col("word") != "")
    # corpus size joins in as a lazy one-row broadcast — a docs.count()
    # here would run an eager job at plan-BUILD time, outside the query's
    # own execution
    n_docs = docs.agg(F.count("*").cast("double").alias("n_total"))
    df = words.groupBy("word").agg(
        F.countDistinct("doc_id").alias("df")
    )
    tf = words.groupBy("lang", "word").agg(F.count("*").alias("tf"))
    scored = (
        tf.join(df, "word")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "lang",
            "word",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_total") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("lang").orderBy(F.desc("tfidf"), F.asc("word"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TFIDF_TOP_N)
        .drop("rn")
    )


PACK_BUDGET = 512  # tokens per training context window


@register(
    "q_token_budget_packing",
    tags=("text", "llm-pipeline", "window"),
    oracle=f"""
        WITH t AS (
            SELECT doc_id, lang,
                   len(string_split(text, ' ')) AS n_tokens
            FROM documents
        ),
        c AS (
            SELECT doc_id, lang, n_tokens,
                   COALESCE(SUM(n_tokens) OVER (
                       PARTITION BY lang ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS cum_before
            FROM t
        )
        SELECT doc_id, lang, n_tokens,
               CAST(FLOOR(cum_before / {PACK_BUDGET}.0) AS BIGINT) AS pack_id,
               CAST(cum_before - CAST(FLOOR(cum_before / {PACK_BUDGET}.0)
                   AS BIGINT) * {PACK_BUDGET} AS BIGINT) AS pack_offset
        FROM c
    """,
)
def q_token_budget_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window PACKING: assign documents (in deterministic doc_id
    order, per language) to fixed token-budget training windows via a
    running-total window — pack_id = floor(preceding-tokens / budget),
    pack_offset = position inside the pack. This is the contiguous-fill
    packing an LLM data loader uses (a pack may spill past the budget by
    at most one document; the loader truncates or pads). One window
    function partitioned by ``lang`` — a single shuffle on the partition
    key at any scale; no driver loop, no UDF. Skew note: partitions are
    per-language corpora; at 100 TB the partition key widens to
    (lang, shard) with shard = doc_id div N to bound any one language's
    window state."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = t.withColumn(
        "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    pack_id = F.floor(F.col("cum_before") / F.lit(float(PACK_BUDGET)))
    return c.select(
        "doc_id",
        "lang",
        "n_tokens",
        pack_id.cast("long").alias("pack_id"),
        (
            F.col("cum_before") - pack_id.cast("long") * F.lit(PACK_BUDGET)
        ).alias("pack_offset"),
    )


# POSIX-safe patterns evaluated identically by Java regex (Spark) and RE2
# (DuckDB): no backrefs, no lookaround.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+?[0-9][0-9()\- ]{6,}[0-9]"


@register(
    "q_text_pii_redact",
    tags=("text", "llm-pipeline", "pii"),
    oracle=f"""
        SELECT doc_id,
               len(regexp_extract_all(text, '{PII_EMAIL}')) AS n_emails,
               len(regexp_extract_all(text, '{PII_PHONE}')) AS n_phones,
               md5(regexp_replace(regexp_replace(text,
                   '{PII_EMAIL}', '[EMAIL]', 'g'),
                   '{PII_PHONE}', '[PHONE]', 'g')) AS redacted_key
        FROM documents
    """,
)
def q_text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub — the redaction pass every training corpus takes before
    the tokenizer: replace email addresses and phone-number-shaped spans
    with typed placeholder tokens and count what was removed (the volume
    metric a compliance dashboard tracks). Pure per-row regexp built-ins
    (regexp_extract_all / regexp_replace) — codegen'd, embarrassingly
    parallel, no shuffle at all; the patterns avoid regex features that
    differ between engines. The redacted text is emitted as an md5 key
    (contract surface carries no long strings); tests/test_pii.py pins the
    actual redaction behavior on a fixture with planted PII."""
    docs = table(spark, sf_dir, "documents")
    redacted = F.regexp_replace(
        F.regexp_replace("text", F.lit(PII_EMAIL), F.lit("[EMAIL]")),
        F.lit(PII_PHONE),
        F.lit("[PHONE]"),
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(PII_EMAIL), F.lit(0))).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all("text", F.lit(PII_PHONE), F.lit(0))).alias(
            "n_phones"
        ),
        F.md5(redacted).alias("redacted_key"),
    )


VOCAB_SIZE = 1000


@register(
    "q_vocab_build",
    tags=("text", "llm-pipeline", "window"),
    oracle=f"""
        WITH freq AS (
            SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq
            FROM (SELECT unnest(string_split(text, ' ')) AS w
                  FROM documents)
            WHERE w <> ''
            GROUP BY w
        ),
        ranked AS (
            SELECT word, freq,
                   ROW_NUMBER() OVER (ORDER BY freq DESC, word) AS word_id
            FROM freq
        )
        SELECT word, freq, CAST(word_id AS BIGINT) AS word_id
        FROM ranked WHERE word_id <= {VOCAB_SIZE}
    """,
)
def q_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer VOCAB construction: top-{VOCAB_SIZE} words by corpus
    frequency with stable ids (freq desc, word asc — deterministic across
    runs and engines). The heavy phase is the explode+count aggregation
    (map-side partial combine keeps the shuffle at distinct-word
    cardinality, not token count); the global rank then runs over the
    aggregated table, which is vocab-sized — a single-partition window
    over thousands of rows, not a global sort of the corpus. At 100 TB
    the aggregation output is still only the vocabulary, so the plan
    shape holds."""
    docs = table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    w = Window.orderBy(F.desc("freq"), F.asc("word"))
    return (
        freq.withColumn("word_id", F.row_number().over(w).cast("long"))
        .filter(F.col("word_id") <= VOCAB_SIZE)
    )


REPETITION_MAX = 0.3  # C4-style gate: >30% repeated shingles => drop


@register(
    "q_text_repetition",
    tags=("text", "llm-pipeline", "quality"),
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   string_split(text, ' ') AS words,
                   {shingles_sql("string_split(text, ' ')")} AS sh
            FROM documents
        )
        SELECT doc_id,
               CAST(len(words) AS BIGINT) AS n_words,
               CAST(len(list_distinct(words)) AS BIGINT) AS n_distinct_words,
               ROUND(CASE WHEN len(sh) = 0 THEN 0.0
                          ELSE 1.0 - len(list_distinct(sh)) * 1.0 / len(sh)
                     END, 6) AS repeated_shingle_ratio,
               CASE WHEN len(sh) > 0
                         AND 1.0 - len(list_distinct(sh)) * 1.0 / len(sh)
                             > {REPETITION_MAX}
                    THEN 1 ELSE 0 END AS is_repetitive
        FROM t
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPETITION filter (the C4/Gopher-style intra-document quality
    gate): the fraction of duplicated 3-word shingles inside each
    document — boilerplate loops, scraped menus, and decoding
    degeneration all show up as a high repeated-shingle ratio long before
    any cross-document dedup runs. Pure per-row array expressions over
    the same shingle definition the dedup tiers use; no shuffle, no UDF.
    Documents above {REPETITION_MAX} repeated ratio get the drop flag a
    cleaning pipeline anti-joins on."""
    docs = table(spark, sf_dir, "documents")
    words = tokens(F.col("text"))
    sh = shingles(words)
    rep = F.when(F.size(sh) == 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(sh)) / F.size(sh)
    )
    return docs.select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        F.size(F.array_distinct(words)).cast("long").alias(
            "n_distinct_words"
        ),
        F.round(rep, 6).alias("repeated_shingle_ratio"),
        F.when(
            (F.size(sh) > 0) & (rep > REPETITION_MAX), 1
        ).otherwise(0).alias("is_repetitive"),
    )


BLOCKLIST = ("spam", "scam", "xxx", "casino", "viagra")
BLOCK_MAX_RATIO = 0.0  # any blocklisted token rejects the doc (C4 policy)


@register(
    "q_text_blocklist_filter",
    tags=("text", "llm-pipeline", "cleaning"),
    oracle=f"""
        WITH base AS (
            SELECT doc_id, lang,
                   list_filter(string_split(text, ' '), w -> w <> '') AS toks
            FROM documents
        ), flagged AS (
            SELECT doc_id, lang, len(toks) AS n_tokens,
                   len(list_filter(toks,
                       w -> w IN ({", ".join(f"'{w}'" for w in BLOCKLIST)})))
                       AS n_blocked
            FROM base
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN n_blocked > {BLOCK_MAX_RATIO} THEN 1
                             ELSE 0 END) AS BIGINT) AS n_rejected,
               CAST(SUM(n_blocked) AS BIGINT) AS total_blocked_tokens
        FROM flagged
        GROUP BY 1
    """,
)
def q_text_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOCKLIST filtering (the C4 "bad words" gate): count blocklisted
    tokens per document, reject any document containing one, report the
    rejection rate per language — the cleaning step that runs BEFORE
    dedup so junk never costs shingle hashing.  The list here is a tiny
    embedded stand-in; production lists (~2k terms) ride the same plan.

    Plan: pure per-row array arithmetic (a lambda filter over the token
    array against an inlined literal set — for large lists, a broadcast
    join against an exploded token stream) + one language-sized rollup.
    No shuffle of the text, ever."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    toks = F.filter(tokens(F.col("text")), lambda w: w != "")
    n_blocked = F.size(F.filter(toks, lambda w: w.isin(*BLOCKLIST)))
    flagged = docs.select(
        "lang",
        n_blocked.alias("n_blocked"),
    )
    return flagged.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(
            F.when(F.col("n_blocked") > BLOCK_MAX_RATIO, 1).otherwise(0)
        ).alias("n_rejected"),
        F.sum("n_blocked").alias("total_blocked_tokens"),
    )


@register(
    "q_text_zipf_fit",
    tags=("text", "stats", "agg"),
    oracle="""
        WITH wc AS (
            SELECT word, COUNT(*) AS cnt FROM (
                SELECT UNNEST(string_split(text, ' ')) AS word
                FROM documents
            ) WHERE word <> ''
            GROUP BY 1
        ), ranked AS (
            SELECT cnt,
                   ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS rnk
            FROM wc
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
               ROUND(regr_slope(ln(cnt * 1.0), ln(rnk * 1.0)), 6)
                   AS zipf_slope,
               ROUND(regr_r2(ln(cnt * 1.0), ln(rnk * 1.0)), 6) AS r2
        FROM ranked
    """,
)
def q_text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIPF-LAW fit: the log-log rank-frequency slope of the corpus
    vocabulary (natural text ≈ −1; the synthetic fixture's flat 31-word
    vocabulary fits ≈ −0.18) — a one-number corpus-naturalness
    diagnostic: machine-generated or template spam bends the curve, and
    the fit degrading over ingest batches is a cheap drift alarm
    alongside ``q_corpus_source_kl``.

    Plan: one word-count aggregation, a rank window over the
    VOCABULARY-sized result (never the token stream), and the built-in
    ``regr_slope``/``regr_r2`` least-squares aggregates — single-pass
    co-moment sums, identical in both engines."""
    docs = table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(tokens(F.col("text"))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    ranked = wc.select(
        "cnt",
        F.row_number()
        .over(Window.orderBy(F.desc("cnt"), F.asc("word")))
        .alias("rnk"),
    )
    return ranked.agg(
        F.count("*").alias("vocab_size"),
        F.round(F.expr("regr_slope(ln(cnt * 1.0), ln(rnk * 1.0))"), 6).alias(
            "zipf_slope"
        ),
        F.round(F.expr("regr_r2(ln(cnt * 1.0), ln(rnk * 1.0))"), 6).alias(
            "r2"
        ),
    )


# Gopher-style hard rule gate (Rae et al. 2021 §A1.1, simplified to the
# fixture's newline-free text): each rule is a named boolean so a corpus
# curator sees WHY a doc fails, not just that it did. Thresholds are
# compile-time dials; word-count bounds are scaled to the synthetic
# fixture's short docs.
GOPHER_MIN_WORDS = 10
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_STOPWORDS = 2
GOPHER_MAX_TOP_TOKEN_FRAC = 0.20


@register(
    "q_quality_gopher_rules",
    tags=("text", "quality", "llm-pipeline"),
    oracle=f"""
        WITH base AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), w -> w <> '')
                       AS toks,
                   length(replace(text, ' ', '')) AS n_nonspace,
                   length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
                       AS n_symbols
            FROM documents
        ), feat AS (
            SELECT doc_id,
                   len(toks) AS n_words,
                   CASE WHEN len(toks) = 0 THEN 0.0
                        ELSE list_sum(list_transform(toks, w ->
                                 CAST(length(w) AS DOUBLE))) / len(toks)
                   END AS mean_word_len,
                   CASE WHEN n_nonspace = 0 THEN 1.0
                        ELSE n_symbols * 1.0 / n_nonspace END AS sym_ratio,
                   len(list_filter(toks, w -> w IN
                       ({", ".join(f"'{w}'" for w in EN_STOPWORDS)})))
                       AS n_stop,
                   CASE WHEN len(toks) = 0 THEN 1.0 ELSE (
                       SELECT MAX(c) * 1.0 / len(toks) FROM (
                           SELECT COUNT(*) AS c
                           FROM UNNEST(toks) AS u(w) GROUP BY w
                       )
                   ) END AS top_frac
            FROM base
        )
        SELECT doc_id, n_words,
               ROUND(mean_word_len, 6) AS mean_word_len,
               ROUND(sym_ratio, 6) AS sym_ratio,
               n_stop,
               ROUND(top_frac, 6) AS top_token_frac,
               (n_words >= {GOPHER_MIN_WORDS}
                AND n_words <= {GOPHER_MAX_WORDS}) AS ok_words,
               (mean_word_len >= {GOPHER_MIN_MEAN_WORD_LEN}
                AND mean_word_len <= {GOPHER_MAX_MEAN_WORD_LEN})
                   AS ok_word_len,
               (sym_ratio <= {GOPHER_MAX_SYMBOL_RATIO}) AS ok_symbols,
               (n_stop >= {GOPHER_MIN_STOPWORDS}) AS ok_stopwords,
               (top_frac <= {GOPHER_MAX_TOP_TOKEN_FRAC}) AS ok_repetition,
               (n_words >= {GOPHER_MIN_WORDS}
                AND n_words <= {GOPHER_MAX_WORDS}
                AND mean_word_len >= {GOPHER_MIN_MEAN_WORD_LEN}
                AND mean_word_len <= {GOPHER_MAX_MEAN_WORD_LEN}
                AND sym_ratio <= {GOPHER_MAX_SYMBOL_RATIO}
                AND n_stop >= {GOPHER_MIN_STOPWORDS}
                AND top_frac <= {GOPHER_MAX_TOP_TOKEN_FRAC}) AS passes
        FROM feat
    """,
)
def q_quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOPHER-STYLE hard rule gate — the named-rule quality filter every
    pretraining pipeline runs before model-based scoring: word-count
    bounds, mean-word-length bounds, symbol-to-character ratio, minimum
    stopword evidence, and a top-token-fraction repetition cap, each
    emitted as its own boolean plus the conjunction.  Differs from
    ``q_text_quality`` (a soft weighted score) the way Gopher's rules
    differ from a learned classifier: hard gates with auditable reasons.

    Plan: every feature is per-row array arithmetic over the tokenized
    text — zero joins, zero shuffles, scan-bound at any scale (the
    most-frequent-token fraction folds inside the row via
    aggregate-over-distinct rather than an explode + groupBy).  All
    thresholds compare identically-derived doubles in both engines, so
    the booleans are hash-stable."""
    docs = table(spark, sf_dir, "documents")
    toks = F.filter(tokens(F.col("text")), lambda w: w != "")
    n_words = F.size(toks)
    n_nonspace = F.length(F.regexp_replace(F.col("text"), " ", ""))
    n_symbols = F.length(
        F.regexp_replace(F.col("text"), "[a-zA-Z0-9 ]", "")
    )
    mean_word_len = F.when(n_words == 0, F.lit(0.0)).otherwise(
        F.aggregate(
            toks,
            F.lit(0.0),
            lambda acc, w: acc + F.length(w).cast("double"),
        )
        / n_words
    )
    sym_ratio = F.when(n_nonspace == 0, F.lit(1.0)).otherwise(
        n_symbols * F.lit(1.0) / n_nonspace
    )
    n_stop = F.size(F.filter(toks, lambda w: w.isin(*EN_STOPWORDS)))
    # most-frequent-token count without exploding: for each DISTINCT
    # token, count its occurrences inside the row's array, take the max
    top_cnt = F.array_max(
        F.transform(
            F.array_distinct(toks),
            lambda d: F.size(F.filter(toks, lambda w: w == d)),
        )
    )
    top_frac = F.when(n_words == 0, F.lit(1.0)).otherwise(
        top_cnt * F.lit(1.0) / n_words
    )
    feat = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_word_len.alias("mwl"),
        sym_ratio.alias("sr"),
        n_stop.alias("n_stop"),
        top_frac.alias("tf"),
    )
    ok_words = (F.col("n_words") >= GOPHER_MIN_WORDS) & (
        F.col("n_words") <= GOPHER_MAX_WORDS
    )
    ok_word_len = (F.col("mwl") >= GOPHER_MIN_MEAN_WORD_LEN) & (
        F.col("mwl") <= GOPHER_MAX_MEAN_WORD_LEN
    )
    ok_symbols = F.col("sr") <= GOPHER_MAX_SYMBOL_RATIO
    ok_stopwords = F.col("n_stop") >= GOPHER_MIN_STOPWORDS
    ok_repetition = F.col("tf") <= GOPHER_MAX_TOP_TOKEN_FRAC
    return feat.select(
        "doc_id",
        "n_words",
        F.round("mwl", 6).alias("mean_word_len"),
        F.round("sr", 6).alias("sym_ratio"),
        "n_stop",
        F.round("tf", 6).alias("top_token_frac"),
        ok_words.alias("ok_words"),
        ok_word_len.alias("ok_word_len"),
        ok_symbols.alias("ok_symbols"),
        ok_stopwords.alias("ok_stopwords"),
        ok_repetition.alias("ok_repetition"),
        (
            ok_words
            & ok_word_len
            & ok_symbols
            & ok_stopwords
            & ok_repetition
        ).alias("passes"),
    )


# --- hybrid search: BM25 + embedding cosine fused by RRF --------------------
RRF_K = 60  # the standard reciprocal-rank-fusion damping constant
RRF_TOP = 10


def _hybrid_vec_cte() -> str:
    """Vector side of the hybrid oracle: cosine top-{BM25_TOP_N} against
    the query vector (vec_id 0; mirrors q_similarity_topk, pool-sized)."""
    from ..functions.vectors import as_double_sql, cosine_sql

    return f"""(
        SELECT vec_id, sim FROM (
            SELECT e.vec_id,
                   {cosine_sql(as_double_sql('e.embedding'), 'q.qv')} AS sim
            FROM embeddings e,
                 (SELECT {as_double_sql('embedding')} AS qv
                  FROM embeddings WHERE vec_id = 0) q
            WHERE e.vec_id <> 0
        ) ORDER BY sim DESC, vec_id LIMIT {BM25_TOP_N}
    )"""


@register(
    "q_hybrid_search_rrf",
    tags=("text", "similarity", "vector", "topk", "llm-pipeline"),
    oracle=f"""
        WITH lex AS ({BM25_ORACLE_SQL}),
        vec AS {_hybrid_vec_cte()},
        lexr AS (
            SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rnk
            FROM lex
        ),
        vecr AS (
            SELECT vec_id,
                   ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS vec_rnk
            FROM vec
        ),
        fused AS (
            SELECT COALESCE(l.doc_id, v.vec_id) AS doc_id,
                   ROUND(COALESCE(1.0 / ({RRF_K} + l.lex_rnk), 0)
                         + COALESCE(1.0 / ({RRF_K} + v.vec_rnk), 0), 6)
                       AS rrf,
                   (l.doc_id IS NOT NULL) AS in_lexical,
                   (v.vec_id IS NOT NULL) AS in_vector
            FROM lexr l FULL OUTER JOIN vecr v ON l.doc_id = v.vec_id
        )
        SELECT doc_id, rrf, in_lexical, in_vector
        FROM fused ORDER BY rrf DESC, doc_id LIMIT {RRF_TOP}
    """,
)
def q_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID SEARCH — the RAG-era retrieval composite: a lexical BM25
    list (query terms {BM25_TERMS}) and a dense embedding-cosine list
    (query vector 0) fused by RECIPROCAL-RANK FUSION
    (score = Σ 1/({RRF_K}+rank)); top-{RRF_TOP} of the fused ranking,
    flagged with which list(s) surfaced each hit. RRF needs no score
    calibration between the two spaces — rank arithmetic only — which
    is exactly why production hybrid search uses it over score mixing.

    Plan: both lists reuse their registered top-k operators (BM25: term
    filter before tf aggregation, broadcast df/stats, ordered-limit;
    cosine: broadcast query row, TakeOrderedAndProject); ranking
    windows run over pool-sized lists ({BM25_TOP_N} rows — the
    single-partition window is safe at any corpus size because the
    POOL, not the corpus, is its input); the fuse is a full outer join
    of two tiny lists. Determinism: both pools rank ROUNDED scores
    with id tie-breaks; RRF arithmetic is rational."""
    from .similarity import q_similarity_topk

    lex = q_text_bm25(spark, sf_dir)
    vec = q_similarity_topk(spark, sf_dir)
    wl = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    wv = Window.orderBy(F.desc("sim"), F.asc("vec_id"))
    lexr = lex.select("doc_id", F.row_number().over(wl).alias("lex_rnk"))
    vecr = vec.select("vec_id", F.row_number().over(wv).alias("vec_rnk"))
    fused = lexr.join(
        vecr, lexr["doc_id"] == vecr["vec_id"], "full_outer"
    ).select(
        F.coalesce(F.col("doc_id"), F.col("vec_id")).alias("doc_id"),
        F.round(
            F.coalesce(1.0 / (RRF_K + F.col("lex_rnk")), F.lit(0.0))
            + F.coalesce(1.0 / (RRF_K + F.col("vec_rnk")), F.lit(0.0)),
            6,
        ).alias("rrf"),
        F.col("lex_rnk").isNotNull().alias("in_lexical"),
        F.col("vec_rnk").isNotNull().alias("in_vector"),
    )
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(RRF_TOP)


BPE_ITERS = 4


def _bpe_ctes() -> list[str]:
    """The unrolled BPE merge loop as chained CTEs: each iteration
    counts adjacent symbol pairs over the word-frequency table, picks
    the (cnt DESC, pair ASC) argmax, and greedily merges it left-to-
    right via the same string fold the Spark plan runs. Shared by the
    train and apply oracles."""
    ctes = [
        """w0 AS (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
                   array_to_string(regexp_extract_all(w, '.'), ' ') AS sym
            FROM (SELECT unnest(string_split(text, ' ')) AS w
                  FROM documents)
            WHERE w <> ''
            GROUP BY w
        )"""
    ]
    for i in range(1, BPE_ITERS + 1):
        prev = f"w{i - 1}"
        ctes.append(
            f"""p{i} AS (
            SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
                SELECT w.freq,
                       string_split(w.sym, ' ')[u.idx] || ' '
                           || string_split(w.sym, ' ')[u.idx + 1] AS pair
                FROM {prev} w,
                     UNNEST(range(1, len(string_split(w.sym, ' '))))
                         AS u(idx)
            )
            GROUP BY 1
        ),
        b{i} AS (
            SELECT split_part(pair, ' ', 1) AS pa,
                   split_part(pair, ' ', 2) AS pb, cnt
            FROM p{i} ORDER BY cnt DESC, pair LIMIT 1
        ),
        w{i} AS (
            SELECT w.w, w.freq,
                   list_reduce(
                       string_split(w.sym, ' '),
                       (acc, x) -> CASE
                           WHEN (acc = b.pa
                                 OR ends_with(acc, ' ' || b.pa))
                                AND x = b.pb
                           THEN substr(acc, 1,
                                       length(acc) - length(b.pa))
                                || b.pa || b.pb
                           ELSE acc || ' ' || x
                       END
                   ) AS sym
            FROM {prev} w CROSS JOIN b{i} b
        )"""
        )
    return ctes


def _bpe_oracle() -> str:
    unions = " UNION ALL ".join(
        f"""SELECT {i} AS iteration, pa AS pair_a, pb AS pair_b,
                   pa || pb AS merged, cnt FROM b{i}"""
        for i in range(1, BPE_ITERS + 1)
    )
    return "WITH " + ",\n        ".join(_bpe_ctes()) + " " + unions


@register(
    "q_bpe_train_merges",
    tags=("text", "llm-pipeline", "iterative", "scale"),
    oracle=_bpe_oracle(),
)
def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE TOKENIZER TRAINING, first {BPE_ITERS} merge steps: count
    adjacent symbol pairs weighted by word frequency, merge the argmax
    pair (greedy left-to-right, the sentencepiece/GPT-2 rule), repeat.
    Output: one row per learned merge (iteration, pair, merged symbol,
    weighted count).

    This is the real production regime: BPE training operates on the
    AGGREGATED word-frequency table — one corpus-sized explode+count
    produces it, and every merge iteration is then vocab-sized work
    (tens of thousands of rows at any corpus scale), so a 100 TB corpus
    pays one aggregation pass and the loop costs nothing. Each
    iteration chains declaratively: pair counts from a per-word
    adjacent zip (descending-sequence guard for 1-char words), a 1-row
    argmax broadcast with (cnt DESC, pair ASC) tie-break, and the merge
    as a string fold (`F.aggregate`) whose greedy semantics the DuckDB
    oracle replays token-for-token with `list_reduce` — no regex
    replacement anywhere (engines disagree on zero-width global
    replaces; plain substring arithmetic doesn't)."""
    return _bpe_train(spark, sf_dir)[1]


@session_memo("bpe_trainings")
def _bpe_train(spark: SparkSession, sf_dir: str):
    """Run the unrolled merge loop; returns (final word->sym vocab DF,
    4-row merge-table DF, every persisted frame). Memoized per
    (session, sf_dir) — same idiom as the IVF session index — so
    q_bpe_train_merges and q_bpe_tokenize_cost share ONE persisted
    word-frequency table instead of each call stacking a fresh persist
    that nothing ever releases."""
    docs = table(spark, sf_dir, "documents")
    # persist: the word-frequency table is vocab-sized and every merge
    # iteration's branch (and the 4-way output union) chains from it —
    # without the cache each union branch would rescan the corpus for
    # its own copy of the explode+count (same pattern as the triangle
    # enumeration's persisted pair list)
    base = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .select(
            "w",
            "freq",
            F.array_join(F.split("w", ""), " ").alias("sym"),
        )
        .persist()
    )
    # ROUND-10 OPTIMIZATION (guide §3.3/§5 — materialize the steps of an
    # iterative loop): `cur` used to chain declaratively across the four
    # merge iterations, so iteration k's argmax subtree replayed the
    # whole fold chain below it and the main branch replayed it again —
    # 2^k copies of every earlier iteration in the final plan (the plan
    # audit counted 60+ Exchange nodes; driver_sim sf0.01 measured
    # q_bpe_tokenize_cost at 28.2 s and q_bpe_train_merges at 15.1 s
    # spark wall). Persisting each iteration's vocab-sized `cur` (tens
    # of thousands of rows at ANY corpus scale — this is the aggregated
    # word-frequency table, never the corpus) makes every iteration
    # read the materialized previous one: the chain is evaluated once,
    # and the 2^k replay is gone (measured after: 9.3 s first-touch /
    # 1.8 s rider on the same driver_sim run, oracle MATCH). All five
    # frames are returned with the result, so the ``bpe_trainings``
    # family release frees them.
    cur = base
    persisted = [base]
    merge_rows = []
    for it in range(1, BPE_ITERS + 1):
        syms = F.split(F.col("sym"), " ")
        n = F.size(syms)
        idx = F.when(
            n > 1, F.sequence(F.lit(1), n - 1)
        ).otherwise(F.array().cast("array<int>"))
        pairs = cur.select(
            "freq",
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.concat(
                        F.element_at(syms, i),
                        F.lit(" "),
                        F.element_at(syms, i + 1),
                    ),
                )
            ).alias("pair"),
        )
        best = (
            pairs.groupBy("pair")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
            .select(
                F.substring_index("pair", " ", 1).alias("pa"),
                F.substring_index("pair", " ", -1).alias("pb"),
                "cnt",
            )
        )
        merge_rows.append(
            best.select(
                F.lit(it).alias("iteration"),
                F.col("pa").alias("pair_a"),
                F.col("pb").alias("pair_b"),
                F.concat("pa", "pb").alias("merged"),
                "cnt",
            )
        )
        pa, pb = F.col("pa"), F.col("pb")
        folded = F.aggregate(
            F.slice(syms, 2, F.greatest(n - 1, F.lit(0))),
            F.element_at(syms, 1),
            lambda acc, x: F.when(
                ((acc == pa) | acc.endswith(F.concat(F.lit(" "), pa)))
                & (x == pb),
                F.concat(
                    F.substr(
                        acc, F.lit(1), F.length(acc) - F.length(pa)
                    ),
                    pa,
                    pb,
                ),
            ).otherwise(F.concat(acc, F.lit(" "), x)),
        )
        cur = (
            cur.crossJoin(F.broadcast(best))
            .select("w", "freq", folded.alias("sym"))
            .persist()
        )
        persisted.append(cur)
    out = merge_rows[0]
    for m in merge_rows[1:]:
        out = out.unionAll(m)
    return cur, out, tuple(persisted)


def _bpe_apply_oracle() -> str:
    return (
        "WITH "
        + ",\n        ".join(_bpe_ctes())
        + f""",
        vocab AS (
            SELECT w, len(string_split(sym, ' ')) AS n_tokens
            FROM w{BPE_ITERS}
        ),
        per_doc AS (
            SELECT d.doc_id, d.source,
                   CAST(SUM(v.n_tokens) AS BIGINT) AS doc_tokens
            FROM (SELECT doc_id, source,
                         unnest(string_split(text, ' ')) AS w
                  FROM documents) d
            JOIN vocab v ON v.w = d.w
            WHERE d.w <> ''
            GROUP BY 1, 2
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(doc_tokens) AS BIGINT) AS total_tokens,
               ROUND(SUM(doc_tokens) * 1.0 / COUNT(*), 4)
                   AS avg_tokens_per_doc
        FROM per_doc
        GROUP BY 1
    """
    )


@register(
    "q_bpe_tokenize_cost",
    tags=("text", "llm-pipeline", "scale"),
    oracle=_bpe_apply_oracle(),
)
def q_bpe_tokenize_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER APPLY + corpus cost readout: tokenize the corpus with
    the merges learned by ``q_bpe_train_merges`` and report per-source
    token budgets (docs, total tokens, avg tokens/doc) — the number a
    training-data pipeline actually buys with a tokenizer: how many
    tokens each source contributes to the mixture.

    Plan: training is vocab-sized (see ``q_bpe_train_merges``); apply
    is a BROADCAST of the word->token-count vocabulary onto the
    corpus explode — segmentation was already computed once per
    DISTINCT word at train time, so per-occurrence work is a hash
    probe, never a re-fold (the memoized-tokenizer trick). Rollups:
    per-doc then per-source, both partial-combined. Docs whose text
    yields no vocabulary words (empty after split) contribute no row —
    stated contract in both engines."""
    vocab = _bpe_train(spark, sf_dir)[0]
    n_tok = vocab.select(
        "w", F.size(F.split("sym", " ")).alias("n_tokens")
    )
    docs = table(spark, sf_dir, "documents")
    exploded = docs.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    per_doc = (
        exploded.join(F.broadcast(n_tok), "w")
        .groupBy("doc_id", "source")
        .agg(F.sum("n_tokens").cast("bigint").alias("doc_tokens"))
    )
    return per_doc.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("doc_tokens").cast("bigint").alias("total_tokens"),
        F.round(
            F.sum("doc_tokens") / F.count("*"), 4
        ).alias("avg_tokens_per_doc"),
    )


QUALITY_RANK_BUCKET = 1024  # two-phase rank bucket width (doc_id-aligned)


@register(
    "q_quality_decile_mix",
    tags=("text", "llm-pipeline", "window", "curation"),
    oracle=f"""
        WITH t AS (
            SELECT doc_id, source,
                   len(string_split(text, ' ')) AS n_tokens,
                   len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS n_punct,
                   n_chars,
                   {stopword_ratio_sql("string_split(text, ' ')")} AS sw_ratio
            FROM documents
        ),
        q AS (
            SELECT doc_id, source,
                   ROUND(0.4 * LEAST(n_tokens / 50.0, 1.0)
                         + 0.3 * (1.0 - LEAST(n_punct * 1.0 / n_chars, 1.0))
                         + 0.3 * LEAST(sw_ratio * 10.0, 1.0), 6) AS quality
            FROM t
        ),
        d AS (
            SELECT source, quality,
                   NTILE(10) OVER (ORDER BY quality, doc_id) AS decile
            FROM q
        ),
        cell AS (
            SELECT source, decile,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   SUM(CAST(quality AS DECIMAL(28,10))) AS sq
            FROM d GROUP BY 1, 2
        )
        SELECT source, decile, n_docs,
               ROUND(CAST(n_docs AS DOUBLE)
                     / SUM(n_docs) OVER (PARTITION BY source), 6)
                   AS source_share,
               ROUND(CAST(sq AS DOUBLE) / n_docs, 6) AS avg_quality
        FROM cell
    """,
)
def q_quality_decile_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY-DECILE × SOURCE MIX: score every document with the
    heuristic quality gate (same formula as ``q_text_quality``), cut
    the corpus into GLOBAL quality deciles, and report how each
    source's documents distribute across them — the curation readout
    that decides "source X is mostly bottom-decile, downweight it"
    before a mixture rebalance (``q_sample_temperature``) or a hard
    gate (``q_quality_gopher_rules``) is committed.

    Plan: one corpus scan computes the score; deciles are EXACT NTILE
    semantics but computed by rank arithmetic — a globally-sorted
    VALUE histogram (|distinct scores| rows) supplies the below-count,
    a quality-partitioned row_number supplies the within-value rank,
    and integer math replays NTILE's remainder rule (the oracle uses
    literal NTILE, so the hash match proves the equivalence). No
    global sort ever touches doc-sized data — the 10× ratio dropped
    from 5.3 (NTILE window form) to ~1 (SCALING.md round 5)."""
    docs = table(spark, sf_dir, "documents")
    n_tokens = F.size(tokens(F.col("text")))
    n_punct = F.size(
        F.regexp_extract_all(F.col("text"), F.lit("[^a-zA-Z0-9 ]"), 0)
    )
    sw = stopword_ratio(tokens(F.col("text")))
    quality = (
        F.lit(0.4) * F.least(n_tokens / F.lit(50.0), F.lit(1.0))
        + F.lit(0.3)
        * (F.lit(1.0) - F.least(n_punct / F.col("n_chars"), F.lit(1.0)))
        + F.lit(0.3) * F.least(sw * 10.0, F.lit(1.0))
    )
    scored = docs.select(
        "doc_id", "source", F.round(quality, 6).alias("quality")
    )
    # exact global deciles WITHOUT a global data sort: NTILE(10) over
    # (quality, doc_id) is pure rank arithmetic, and the global rank of
    # a row decomposes as (# rows with smaller quality) + (rank of
    # doc_id within its quality value). The first term comes from the
    # VALUE HISTOGRAM (the only globally-sorted table — |distinct
    # quality values| rows, broadcast back); the second is a window
    # partitioned BY quality value, which shuffles on a many-valued key
    # instead of collapsing all docs into one sort partition. The
    # DuckDB oracle uses literal NTILE — the hash match proves the
    # arithmetic replays NTILE's remainder rule exactly.
    # two-phase rank, because the score space COLLAPSES at scale (the
    # 10x corpus lands 55% of docs on one quality value, so a plain
    # partitionBy(quality) window is the global sort in disguise): the
    # tie-break key is doc_id, so bucketing by doc_id div {B} aligns
    # with the rank order and rank-within-value = (cumulative count of
    # same-value docs in LOWER buckets) + row_number within (value,
    # bucket) - every window partition is bounded by the bucket width
    # materialize the scored table ONCE (localCheckpoint, the
    # q_dedup_clusters precedent): the scorer is the compute-heavy
    # corpus scan, and both two-phase-rank passes plus the rollup chain
    # from it — without the checkpoint each plan branch re-runs the
    # regexp/tokenize scan
    from ..caches import track_checkpoint

    bucket = F.expr(f"doc_id div {QUALITY_RANK_BUCKET}")
    bscored = track_checkpoint(
        scored.withColumn("bkt", bucket).localCheckpoint(eager=True)
    )
    bcounts = bscored.groupBy("quality", "bkt").agg(
        F.count("*").alias("c")
    )
    # ONE window ordered by (quality, bkt) yields the combined rank
    # base — rows with a smaller quality OR same quality and lower
    # bucket — so no separate per-value histogram pass is needed
    w_base = (
        Window.orderBy("quality", "bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pre = bcounts.select(
        "quality",
        "bkt",
        F.coalesce(F.sum("c").over(w_base), F.lit(0)).alias("base"),
        F.sum("c").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n_total"),
    )
    rn = F.row_number().over(
        Window.partitionBy("quality", "bkt").orderBy("doc_id")
    )
    ranked = (
        bscored.withColumn("rn", rn)
        .join(F.broadcast(pre), ["quality", "bkt"])
        .withColumn("k", F.col("base") + F.col("rn"))
    )
    # NTILE(10) remainder rule: r = N % 10 leading tiles hold q+1 rows
    # (q = N div 10), the rest hold q
    decile = F.expr(
        "CASE WHEN k <= (n_total % 10) * (n_total div 10 + 1)"
        " THEN (k - 1) div (n_total div 10 + 1) + 1"
        " ELSE (n_total % 10)"
        "      + (k - (n_total % 10) * (n_total div 10 + 1) - 1)"
        "        div (n_total div 10) + 1 END"
    )
    cell = (
        ranked.withColumn("decile", decile.cast("int"))
        .groupBy("source", "decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("quality").cast("decimal(28,10)")).alias("sq"),
        )
    )
    share_w = Window.partitionBy("source")
    return cell.select(
        "source",
        "decile",
        "n_docs",
        F.round(
            F.col("n_docs").cast("double") / F.sum("n_docs").over(share_w),
            6,
        ).alias("source_share"),
        # decimal sum -> ONE double division -> round: dividing in
        # decimal first hits engine-specific division scales on exact
        # halfway cases (seen at sf0.1: 0.9522865 rounding both ways)
        F.round(
            F.col("sq").cast("double") / F.col("n_docs"), 6
        ).alias("avg_quality"),
    )


@register(
    "q_langid_confusion",
    tags=("text", "eval", "diagnostics"),
    oracle=f"""
        WITH scored AS (
            SELECT lang,
                   CASE WHEN {stopword_ratio_sql("string_split(text, ' ')")}
                             > {LANGID_THRESHOLD}
                        THEN 'en' ELSE 'other' END AS pred_lang
            FROM documents
        ),
        cell AS (
            SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM scored GROUP BY 1, 2
        )
        SELECT lang, pred_lang, n_docs,
               ROUND(CAST(n_docs AS DOUBLE)
                     / SUM(n_docs) OVER (PARTITION BY lang), 6)
                   AS label_share
        FROM cell
    """,
)
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASSIFIER CONFUSION MATRIX: the langid heuristic
    (``q_text_langid``) evaluated against the corpus's own ``lang``
    labels — (label, prediction, count, share-of-label) cells, the
    self-evaluation every gate model needs before its threshold ships
    (the same eval shape ``q_ann_recall_audit`` gives the ANN index and
    ``q_dedup_tier_recall`` gives the dedup tiers: the engine measures
    its own operators as queries).

    Plan: one corpus scan scores and labels simultaneously; the matrix
    is |langs|×2 cells and the share window runs over that constant-
    size table. At 100 TB: scan-bound, shuffle is matrix-sized."""
    docs = table(spark, sf_dir, "documents")
    ratio = stopword_ratio(tokens(F.col("text")))
    scored = docs.select(
        "lang",
        F.when(ratio > LANGID_THRESHOLD, "en")
        .otherwise("other")
        .alias("pred_lang"),
    )
    cell = scored.groupBy("lang", "pred_lang").agg(
        F.count("*").alias("n_docs")
    )
    w = Window.partitionBy("lang")
    return cell.select(
        "lang",
        "pred_lang",
        "n_docs",
        F.round(
            F.col("n_docs").cast("double") / F.sum("n_docs").over(w), 6
        ).alias("label_share"),
    )
