"""Customer/behavioral analytics operators: RFM segmentation, hash-bucket
A/B testing, and bitmap-index exact distinct counting.

These extend the reference's per-type counters (reference
analytical_server.py:15-18 keeps one mutable dict per metric) into the
segment-level questions a warehouse user asks of the same event stream:
who are the high-value actors (RFM), did a treatment move a metric
(Welch t over deterministic hash buckets), and how do you count distinct
actors EXACTLY at 100 TB without a count-distinct shuffle of raw ids
(bitmap words — the Druid/ClickHouse bitmap-index trick).

Determinism rules follow the registry conventions: every double
aggregate folds through decimal(28,10) before one rounded cast, every
window order carries a unique tie-break key, and quartile boundaries
order by already-rounded values so NTILE can never flip cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caches import session_memo
from ..catalog import table
from ..plans.registry import register

# 63 payload bits per bitmap word keeps every shift inside the positive
# BIGINT range on both engines (bit 63 would flip the sign; harmless for
# OR/popcount but needlessly engine-trapped).
_BITMAP_WORD_BITS = 63


@register(
    "q_customer_rfm",
    tags=("analytics", "window", "ntile"),
    oracle="""
        WITH agg AS (
            SELECT o_custkey AS c_custkey,
                   DATEDIFF('day', MAX(o_orderdate),
                            (SELECT MAX(o_orderdate) FROM orders))
                       AS recency_days,
                   COUNT(*) AS frequency,
                   CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,10))), 2)
                        AS DOUBLE) AS monetary
            FROM orders
            GROUP BY 1
        ),
        scored AS (
            SELECT c_custkey, recency_days, frequency, monetary,
                   NTILE(4) OVER (ORDER BY recency_days, c_custkey)
                       AS r_quartile,
                   NTILE(4) OVER (ORDER BY frequency DESC, c_custkey)
                       AS f_quartile,
                   NTILE(4) OVER (ORDER BY monetary DESC, c_custkey)
                       AS m_quartile
            FROM agg
        )
        SELECT c_custkey, recency_days, frequency, monetary,
               r_quartile, f_quartile, m_quartile,
               CASE
                   WHEN r_quartile = 1 AND f_quartile = 1
                        AND m_quartile = 1 THEN 'champion'
                   WHEN r_quartile <= 2 AND f_quartile <= 2 THEN 'loyal'
                   WHEN r_quartile >= 3 AND m_quartile <= 2
                       THEN 'at_risk_big_spender'
                   WHEN r_quartile >= 3 THEN 'lapsed'
                   ELSE 'regular'
               END AS segment
        FROM scored
    """,
)
def q_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM SEGMENTATION: quartile-score every customer on Recency /
    Frequency / Monetary and label coarse segments (champion, loyal,
    at-risk big spender, lapsed).

    Plan: one fact aggregation on ``o_custkey`` (partial-combined
    map-side) shrinks orders to one row per customer; the three NTILE
    windows then run over the customer-sized aggregate, not the fact
    table. The anchor date (global MAX(o_orderdate)) is a 1-row
    broadcast scalar. At 100 TB the only data-sized exchange is the
    custkey aggregation; the windows cost |customers| rows. NTILE
    determinism: recency/frequency are integers and monetary is a
    decimal-folded ROUND(...,2), each ordered with a c_custkey
    tie-break, so quartile boundaries are bit-identical cross-engine."""
    orders = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    anchor = orders.agg(F.max("o_orderdate").alias("anchor_date"))
    agg = (
        orders.groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").alias("frequency"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(28,10)")), 2
            )
            .cast("double")
            .alias("monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .withColumn(
            "recency_days",
            F.datediff(
                F.col("anchor_date").cast("date"),
                F.col("last_order").cast("date"),
            ),
        )
        .drop("anchor_date", "last_order")
    )
    r_q = F.ntile(4).over(
        Window.orderBy("recency_days", "c_custkey")
    )
    f_q = F.ntile(4).over(
        Window.orderBy(F.desc("frequency"), F.asc("c_custkey"))
    )
    m_q = F.ntile(4).over(
        Window.orderBy(F.desc("monetary"), F.asc("c_custkey"))
    )
    scored = (
        agg.withColumn("r_quartile", r_q)
        .withColumn("f_quartile", f_q)
        .withColumn("m_quartile", m_q)
    )
    segment = (
        F.when(
            (F.col("r_quartile") == 1)
            & (F.col("f_quartile") == 1)
            & (F.col("m_quartile") == 1),
            F.lit("champion"),
        )
        .when(
            (F.col("r_quartile") <= 2) & (F.col("f_quartile") <= 2),
            F.lit("loyal"),
        )
        .when(
            (F.col("r_quartile") >= 3) & (F.col("m_quartile") <= 2),
            F.lit("at_risk_big_spender"),
        )
        .when(F.col("r_quartile") >= 3, F.lit("lapsed"))
        .otherwise(F.lit("regular"))
    )
    return scored.select(
        "c_custkey",
        "recency_days",
        "frequency",
        "monetary",
        "r_quartile",
        "f_quartile",
        "m_quartile",
        segment.alias("segment"),
    )


@register(
    "q_ab_test_welch",
    tags=("analytics", "stats", "scale"),
    oracle="""
        WITH assigned AS (
            SELECT event_type,
                   CAST(user_id % 2 AS INTEGER) AS bucket,
                   CAST(value AS DECIMAL(28,10)) AS v
            FROM events
        ),
        per_arm AS (
            SELECT event_type, bucket,
                   COUNT(*) AS n,
                   SUM(v) AS s,
                   SUM(v * v) AS ss
            FROM assigned
            GROUP BY 1, 2
        ),
        stats AS (
            SELECT event_type, bucket, n,
                   CAST(s AS DOUBLE) / n AS mean,
                   CASE WHEN n > 1 THEN
                       (CAST(ss AS DOUBLE)
                        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                           / (n - 1)
                   END AS var
            FROM per_arm
        )
        SELECT a.event_type,
               a.n AS n_control, b.n AS n_treat,
               ROUND(a.mean, 6) AS mean_control,
               ROUND(b.mean, 6) AS mean_treat,
               ROUND(b.mean - a.mean, 6) AS lift,
               ROUND((b.mean - a.mean)
                     / SQRT(a.var / a.n + b.var / b.n), 4) AS welch_t
        FROM stats a
        JOIN stats b
          ON a.event_type = b.event_type AND a.bucket = 0 AND b.bucket = 1
    """,
)
def q_ab_test_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B TEST READOUT: deterministic 50/50 assignment (user_id parity
    — the degenerate-but-reproducible form of a salted experiment hash),
    then per-metric Welch's t statistic between the arms.

    Plan: one aggregation keyed on (event_type, bucket) computes n /
    sum / sum-of-squares with map-side partial combine — the classic
    one-pass moments pass, so the fact table is read once and shuffled
    once at |types|×2 output cardinality. The arm self-join is over
    that tiny aggregate (broadcast). Cross-engine determinism: moments
    accumulate as decimal(28,10) (exact, order-independent); the only
    double arithmetic is the final mean/variance/t expression, applied
    identically on both engines to identical decimal inputs, then
    rounded."""
    ev = table(spark, sf_dir, "events")
    assigned = ev.select(
        "event_type",
        (F.col("user_id") % 2).cast("int").alias("bucket"),
        F.col("value").cast("decimal(28,10)").alias("v"),
    )
    # ROUND-11 (guide §1.2/§2.4): the arm readout was a self-join over
    # the (event_type, bucket) aggregate, which derived the fact
    # aggregation once per side — two fact scans for a |types|×2-row
    # table. One conditional aggregation keyed on event_type computes
    # both arms' moments in a single fact pass, no join at all. The
    # decimal sums are exact and conditional sums accumulate the same
    # rows, so every downstream double is bit-identical; the inner
    # join's drop-missing-arm semantics survive as the n0/n1 > 0
    # filter.
    arm = lambda b: F.col("bucket") == b  # noqa: E731
    agg = assigned.groupBy("event_type").agg(
        F.count(F.when(arm(0), F.lit(1))).alias("n0"),
        F.sum(F.when(arm(0), F.col("v"))).alias("s0"),
        F.sum(F.when(arm(0), F.col("v") * F.col("v"))).alias("ss0"),
        F.count(F.when(arm(1), F.lit(1))).alias("n1"),
        F.sum(F.when(arm(1), F.col("v"))).alias("s1"),
        F.sum(F.when(arm(1), F.col("v") * F.col("v"))).alias("ss1"),
    )

    def _mean(s: str, n: str) -> Column:
        return F.col(s).cast("double") / F.col(n)

    def _var(s: str, ss: str, n: str) -> Column:
        # n == 1 guard: the (n-1) sample-variance divisor is 0/0 → NaN
        # for a single-row arm; NULL instead (propagates to a NULL
        # welch_t) so both engines canonicalize identically
        s_d, ss_d = F.col(s).cast("double"), F.col(ss).cast("double")
        return F.when(
            F.col(n) > 1,
            (ss_d - s_d * s_d / F.col(n)) / (F.col(n) - 1),
        )

    mean_a, mean_b = _mean("s0", "n0"), _mean("s1", "n1")
    var_a, var_b = _var("s0", "ss0", "n0"), _var("s1", "ss1", "n1")
    t = (mean_b - mean_a) / F.sqrt(
        var_a / F.col("n0") + var_b / F.col("n1")
    )
    return (
        agg.filter((F.col("n0") > 0) & (F.col("n1") > 0))
        .select(
            "event_type",
            F.col("n0").alias("n_control"),
            F.col("n1").alias("n_treat"),
            F.round(mean_a, 6).alias("mean_control"),
            F.round(mean_b, 6).alias("mean_treat"),
            F.round(mean_b - mean_a, 6).alias("lift"),
            F.round(t, 4).alias("welch_t"),
        )
    )


@register(
    "q_bitmap_distinct",
    tags=("analytics", "sketch", "scale"),
    oracle=f"""
        WITH keyed AS (
            SELECT event_type, user_id,
                   ((user_id % {_BITMAP_WORD_BITS}) + {_BITMAP_WORD_BITS})
                       % {_BITMAP_WORD_BITS} AS bitpos
            FROM events
        ),
        words AS (
            SELECT event_type,
                   (user_id - bitpos) // {_BITMAP_WORD_BITS} AS word_id,
                   bit_or(1::BIGINT << CAST(bitpos AS INTEGER)) AS word
            FROM keyed
            GROUP BY 1, 2
        )
        SELECT event_type,
               CAST(SUM(bit_count(word)) AS BIGINT) AS distinct_users,
               CAST(COUNT(*) AS BIGINT) AS bitmap_words
        FROM words
        GROUP BY 1
    """,
)
def q_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITMAP-INDEX EXACT DISTINCT: per event type, exact distinct users
    via OR-ed 63-bit bitmap words keyed by ``user_id div 63`` —
    the Druid/ClickHouse bitmap aggregation, expressed declaratively.

    Why this beats ``COUNT(DISTINCT user_id)`` at 100 TB: the distinct
    shuffle moves every raw (type, user) pair; the bitmap form's first
    aggregation partial-combines map-side into at most
    |types| × ceil(|users|/63) words — dense id spaces compress 63 rows
    into one BIGINT before the exchange — and the popcount rollup is
    over words, not users. The word OR and popcount are associative and
    exact, so (unlike HLL) the answer is not approximate, and the
    oracle replays the identical bit arithmetic (63 payload bits keep
    every shifted value positive on both engines). Keys of ANY sign
    work: the bit position is pmod(id, 63) and the word id is the exact
    division (id − bitpos)/63, on which truncating and flooring integer
    division agree — no nonnegative-id contract needed."""
    ev = table(spark, sf_dir, "events")
    # sign-safe keying: bitpos = pmod(id, 63) ∈ [0, 62] for ANY id
    # (a raw `id % 63` is negative for negative ids, and a negative
    # shift amount wraps engine-dependently), and word_id via
    # (id - bitpos) div 63 — an EXACT division, so truncating (Spark
    # div) and flooring (DuckDB //) integer division agree on negatives
    words = (
        ev.select(
            "event_type",
            F.expr(
                f"(user_id - pmod(user_id, {_BITMAP_WORD_BITS}))"
                f" div {_BITMAP_WORD_BITS}"
            ).alias("word_id"),
            # F.shiftleft only takes a literal shift amount; the SQL
            # form accepts a column.
            F.expr(
                f"shiftleft(1L, CAST(pmod(user_id, {_BITMAP_WORD_BITS})"
                " AS INT))"
            ).alias("bit"),
        )
        .groupBy("event_type", "word_id")
        .agg(F.bit_or("bit").alias("word"))
    )
    return words.groupBy("event_type").agg(
        F.sum(F.bit_count("word")).cast("bigint").alias("distinct_users"),
        F.count("*").cast("bigint").alias("bitmap_words"),
    )


@register(
    "q_chi_square_independence",
    tags=("analytics", "stats"),
    oracle="""
        WITH obs AS (
            SELECT event_type,
                   CAST(date_part('dow', ts) AS INTEGER) AS dow,
                   CAST(COUNT(*) AS BIGINT) AS o
            FROM events GROUP BY 1, 2
        ),
        tot AS (
            SELECT o.event_type, o.dow, o.o,
                   SUM(o.o) OVER (PARTITION BY o.event_type) AS rt,
                   SUM(o.o) OVER (PARTITION BY o.dow) AS ct,
                   SUM(o.o) OVER () AS n
            FROM obs o
        ),
        cells AS (
            SELECT event_type, dow, o, n,
                   CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                       / CAST(n AS DOUBLE) AS e
            FROM tot
        ),
        dims AS (
            SELECT COUNT(DISTINCT event_type) AS r,
                   COUNT(DISTINCT dow) AS c
            FROM obs
        )
        SELECT ROUND(CAST(SUM(CAST((o - e) * (o - e) / e
                                   AS DECIMAL(28,10))) AS DOUBLE), 6)
                   AS chi2,
               CAST((MAX(d.r) - 1) * (MAX(d.c) - 1) AS BIGINT) AS dof,
               ROUND(SQRT(CAST(SUM(CAST((o - e) * (o - e) / e
                                        AS DECIMAL(28,10))) AS DOUBLE)
                          / (MAX(cells.n)
                             * least(MAX(d.r) - 1, MAX(d.c) - 1))), 6)
                   AS cramers_v,
               CAST(MAX(cells.n) AS BIGINT) AS n
        FROM cells CROSS JOIN dims d
    """,
)
def q_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHI-SQUARE INDEPENDENCE TEST: is event type independent of
    day-of-week? Observed (type x dow) counts vs the
    row-total x col-total / n expectation, with Cramér's V as the
    effect size — the categorical-association readout behind every
    'does behavior differ by day' dashboard question.

    Plan: one fact aggregation to the r x c contingency cells; row,
    column, and grand totals are window sums OVER THE CELL TABLE
    (35 rows — never the fact), and the statistic is a 1-row rollup.
    Counts and marginals are exact integers; the only doubles are the
    identical expected/deviation expressions, and the chi2 sum folds
    decimal(28,10) so cell order can't drift the rounded statistic.
    Spark's dayofweek is 1-based Sunday; the plan subtracts 1 to match
    DuckDB's 0-based dow exactly."""
    ev = table(spark, sf_dir, "events")
    obs = ev.groupBy(
        "event_type",
        (F.dayofweek(F.col("ts")) - 1).cast("int").alias("dow"),
    ).agg(F.count("*").cast("bigint").alias("o"))
    rt = F.sum("o").over(Window.partitionBy("event_type"))
    ct = F.sum("o").over(Window.partitionBy("dow"))
    n = F.sum("o").over(Window.partitionBy())
    cells = obs.select(
        "event_type",
        "dow",
        "o",
        rt.alias("rt"),
        ct.alias("ct"),
        n.alias("n"),
    ).withColumn(
        "e",
        F.col("rt").cast("double")
        * F.col("ct").cast("double")
        / F.col("n").cast("double"),
    )
    dev = (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")
    chi2_sum = F.sum(dev.cast("decimal(28,10)")).cast("double")
    # ROUND-11 (guide §1.2): r × c used to be a SECOND fact aggregation
    # crossJoined back on; the cell table carries the same keys, so the
    # distinct counts fold into the final 1-row rollup over 35 rows —
    # fact aggregations 2 → 1, identical integers.
    r_d = F.count_distinct("event_type")
    c_d = F.count_distinct("dow")
    return cells.agg(
        F.round(chi2_sum, 6).alias("chi2"),
        ((r_d - 1) * (c_d - 1)).cast("bigint").alias("dof"),
        F.round(
            F.sqrt(
                chi2_sum / (F.max("n") * F.least(r_d - 1, c_d - 1))
            ),
            6,
        ).alias("cramers_v"),
        F.max("n").cast("bigint").alias("n"),
    )


@register(
    "q_key_skew_gini",
    tags=("analytics", "diagnostics", "scale"),
    oracle="""
        WITH x AS (
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM events GROUP BY 1
        ),
        ranked AS (
            SELECT cnt,
                   ROW_NUMBER() OVER (ORDER BY cnt, user_id) AS i
            FROM x
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(cnt) AS BIGINT) AS total,
               CAST(MAX(cnt) AS BIGINT) AS max_cnt,
               ROUND(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt), 6)
                   AS top_share,
               ROUND(2.0 * SUM(i * cnt)
                     / (COUNT(*) * CAST(SUM(cnt) AS DOUBLE))
                     - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
        FROM ranked
    """,
)
def q_key_skew_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEY-SKEW GINI: concentration of events over user keys — the
    quantitative version of 'is this join key skewed enough to salt'.
    Gini 0 = perfectly uniform keys (hash partitioning is safe), -> 1 =
    a few hub keys own the table (pre-aggregate, salt, or AQE
    skew-join). Computed by the sorted-rank identity
    G = 2·Σ(i·x_i)/(n·Σx) − (n+1)/n, whose Σ(i·x_i) is an EXACT integer
    — no float accumulation anywhere until the final two divisions.

    Plan: one fact aggregation to per-key counts, one |keys|-row global
    rank window (the known exact-Gini cost; a histogram approximation
    drops the sort at 100 TB), one 1-row rollup. Companion diagnostics:
    ``q_heavy_hitters`` names the hubs, ``q_graph_degree_stats`` does
    the same for the pair graph."""
    ev = table(spark, sf_dir, "events")
    x = ev.groupBy("user_id").agg(F.count("*").cast("bigint").alias("cnt"))
    w = Window.orderBy("cnt", "user_id")
    ranked = x.select("cnt", F.row_number().over(w).alias("i"))
    n = F.count("*")
    tot = F.sum("cnt")
    return ranked.agg(
        n.cast("bigint").alias("n_keys"),
        tot.cast("bigint").alias("total"),
        F.max("cnt").cast("bigint").alias("max_cnt"),
        F.round(F.max("cnt").cast("double") / tot, 6).alias("top_share"),
        F.round(
            F.lit(2.0) * F.sum(F.col("i") * F.col("cnt"))
            / (n * tot.cast("double"))
            - (n + F.lit(1.0)) / n,
            6,
        ).alias("gini"),
    )


BLOOM_PLAN_FPP = 0.01


def _bloom_plan_sql(tbl: str, key: str) -> str:
    return f"""
        SELECT '{tbl}.{key}' AS key_name,
               CAST(COUNT(DISTINCT {key}) AS BIGINT) AS ndv,
               CAST(CEIL(-COUNT(DISTINCT {key}) * LN({BLOOM_PLAN_FPP})
                         / (LN(2) * LN(2))) AS BIGINT) AS m_bits,
               CAST(GREATEST(1, ROUND(
                   CEIL(-COUNT(DISTINCT {key}) * LN({BLOOM_PLAN_FPP})
                        / (LN(2) * LN(2)))
                   * LN(2) / COUNT(DISTINCT {key}))) AS BIGINT) AS k_hashes,
               CAST(CEIL(CEIL(-COUNT(DISTINCT {key}) * LN({BLOOM_PLAN_FPP})
                              / (LN(2) * LN(2))) / 8.0) AS BIGINT)
                   AS bytes,
               CEIL(-COUNT(DISTINCT {key}) * LN({BLOOM_PLAN_FPP})
                    / (LN(2) * LN(2))) / 8.0 < 4194304.0
                   AS broadcastable
        FROM {tbl}
    """


@register(
    "q_bloom_size_planner",
    tags=("analytics", "diagnostics", "join", "scale"),
    oracle=" UNION ALL ".join(
        _bloom_plan_sql(t, k)
        for t, k in (
            ("events", "user_id"),
            ("orders", "o_custkey"),
            ("lineitem", "l_partkey"),
        )
    ),
)
def q_bloom_size_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM FILTER SIZING PLANNER: for each candidate runtime-filter
    key, measure its exact NDV and derive the textbook optimal filter —
    m = ceil(-n·ln p / ln²2) bits and k = m/n·ln 2 hashes at
    p = {BLOOM_PLAN_FPP} — plus the verdict that matters at 100 TB:
    does the bitmap fit a broadcast (< 4 MiB)? The measured companion
    to ``q_join_bloom_pruned``, and the layout-planner pattern of
    ``q_layout_rle_estimate`` applied to runtime filters.

    Plan: one NDV aggregation per key (three table scans, each
    partial-combined); the sizing arithmetic is identical IEEE double
    ops on exact integer NDVs, so ceil/round land identically on both
    engines."""
    out = None
    for tbl, key in (
        ("events", "user_id"),
        ("orders", "o_custkey"),
        ("lineitem", "l_partkey"),
    ):
        ndv = F.count_distinct(key).cast("bigint")
        m = F.ceil(
            -ndv * F.log(F.lit(float(BLOOM_PLAN_FPP)))
            / (F.log(F.lit(2.0)) * F.log(F.lit(2.0)))
        )
        k = F.greatest(
            F.lit(1).cast("bigint"),
            F.round(m * F.log(F.lit(2.0)) / ndv, 0).cast("bigint"),
        )
        row = table(spark, sf_dir, tbl).agg(
            F.lit(f"{tbl}.{key}").alias("key_name"),
            ndv.alias("ndv"),
            m.cast("bigint").alias("m_bits"),
            k.alias("k_hashes"),
            F.ceil(m / 8.0).cast("bigint").alias("bytes"),
            (m / 8.0 < 4_194_304.0).alias("broadcastable"),
        )
        out = row if out is None else out.unionAll(row)
    return out


@register(
    "q_trend_slope",
    tags=("analytics", "stats", "regression", "scale"),
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT) AS y
            FROM events GROUP BY 1, 2
        ),
        origin AS (SELECT MIN(day) AS d0 FROM daily),
        xy AS (
            SELECT event_type,
                   CAST(date_diff('day', o.d0, day) AS BIGINT) AS x, y
            FROM daily, origin o
        ),
        m AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(x) AS sx, SUM(y) AS sy,
                   SUM(CAST(x AS DECIMAL(18,0))
                       * CAST(y AS DECIMAL(18,0))) AS sxy,
                   SUM(x * x) AS sxx,
                   SUM(CAST(y AS DECIMAL(18,0))
                       * CAST(y AS DECIMAL(18,0))) AS syy
            FROM xy GROUP BY 1
        ),
        fit AS (
            SELECT event_type, n,
                   CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
                   CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den_x,
                   CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS den_y,
                   CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
            FROM m
        )
        SELECT event_type,
               n AS n_days,
               ROUND(num / den_x, 6) AS slope,
               ROUND((syd - (num / den_x) * sxd) / n, 6) AS intercept,
               CASE WHEN den_y > 0
                    THEN ROUND(num * num / (den_x * den_y), 6)
               END AS r2
        FROM fit
        WHERE den_x > 0
    """,
)
def q_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR TREND per event type: OLS slope / intercept / R² of the
    daily event count against the day index — "is this metric growing,
    and how fast" as a query, not an export-to-notebook round-trip.

    The moment decomposition is the whole scale story: the regression
    needs only (n, Σx, Σy, Σxy, Σx², Σy²), so the fact table collapses
    to a per-(type, day) count — a calendar×types-sized table — and the
    fit itself runs over |types| rows. Count moments accumulate in
    decimal(18,0)² → decimal(38,0) (Σy² is ~days·count² and would
    overflow BIGINT at real daily volumes; ANSI Spark would error, the
    oracle's HUGEINT would not — the decimal lane keeps both engines
    exact and identical). The final slope arithmetic casts each exact
    moment to double individually, the same per-factor discipline as
    the Pearson operators. Degenerate guards: single-day types are
    excluded (zero x-variance), constant-count types report NULL R²
    (0/0 — NaN hashes engine-dependently)."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").alias("y"))
    origin = daily.agg(F.min("day").alias("d0"))
    xy = daily.crossJoin(F.broadcast(origin)).select(
        "event_type",
        F.datediff("day", "d0").cast("bigint").alias("x"),
        "y",
    )
    dec = "decimal(18,0)"
    m = xy.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("y").cast(dec)).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y").cast(dec)).alias("syy"),
    )
    n_d = F.col("n").cast("double")
    sx_d = F.col("sx").cast("double")
    sy_d = F.col("sy").cast("double")
    num = n_d * F.col("sxy").cast("double") - sx_d * sy_d
    den_x = n_d * F.col("sxx").cast("double") - sx_d * sx_d
    den_y = n_d * F.col("syy").cast("double") - sy_d * sy_d
    slope = num / den_x
    return (
        m.filter(den_x > 0)
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            F.round(slope, 6).alias("slope"),
            F.round((sy_d - slope * sx_d) / F.col("n"), 6).alias(
                "intercept"
            ),
            F.when(den_y > 0, F.round(num * num / (den_x * den_y), 6))
            .alias("r2"),
        )
    )


XCORR_MAX_LAG_HOURS = 6  # lags 0..6 hours scanned for the best alignment


@register(
    "q_xcorr_best_lag",
    tags=("analytics", "timeseries", "similarity", "scale"),
    oracle=f"""
        WITH counts AS (
            SELECT event_type, date_trunc('hour', ts) AS hour,
                   CAST(COUNT(*) AS BIGINT) AS y
            FROM events GROUP BY 1, 2
        ),
        bounds AS (
            SELECT MIN(date_trunc('hour', ts)) AS h0,
                   MAX(date_trunc('hour', ts)) AS h1
            FROM events
        ),
        hours AS (
            SELECT UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR))
                AS hour
            FROM bounds
        ),
        types AS (SELECT DISTINCT event_type FROM events),
        dense AS (
            SELECT t.event_type, h.hour, COALESCE(c.y, 0) AS y
            FROM hours h CROSS JOIN types t
            LEFT JOIN counts c
              ON c.event_type = t.event_type AND c.hour = h.hour
        ),
        lagged AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   CAST(u.off AS INTEGER) AS lag_h, a.y AS x, b.y AS y
            FROM UNNEST(range(0, {XCORR_MAX_LAG_HOURS + 1})) AS u(off)
            JOIN dense a ON TRUE
            JOIN dense b
              ON b.hour = a.hour + to_hours(u.off)
             AND b.event_type <> a.event_type
        ),
        m AS (
            SELECT type_a, type_b, lag_h,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(x) AS sx, SUM(y) AS sy,
                   SUM(CAST(x AS DECIMAL(18,0))
                       * CAST(y AS DECIMAL(18,0))) AS sxy,
                   SUM(CAST(x AS DECIMAL(18,0))
                       * CAST(x AS DECIMAL(18,0))) AS sxx,
                   SUM(CAST(y AS DECIMAL(18,0))
                       * CAST(y AS DECIMAL(18,0))) AS syy
            FROM lagged GROUP BY 1, 2, 3
        ),
        scored AS (
            SELECT type_a, type_b, lag_h,
                   ROUND(
                       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       / SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                              * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                 - CAST(sy AS DOUBLE)
                                   * CAST(sy AS DOUBLE))),
                       6) AS corr
            FROM m
            WHERE CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
              AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
        ),
        ranked AS (
            SELECT type_a, type_b, lag_h, corr,
                   ROW_NUMBER() OVER (
                       PARTITION BY type_a, type_b
                       ORDER BY corr DESC, lag_h ASC) AS rk
            FROM scored
        )
        SELECT type_a, type_b,
               CAST(lag_h AS INTEGER) AS best_lag, corr
        FROM ranked WHERE rk = 1
    """,
)
def q_xcorr_best_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-CORRELATION LAG SCAN: for every ordered pair of event
    types, Pearson-correlate type A's hourly series against type B's
    series shifted by 0..{XCORR_MAX_LAG_HOURS} hours and report the
    best-aligning lag — "does checkout follow page-view by two hours"
    as a single declarative query (the lead-lag detection behind
    metric-dependency graphs).

    Scale shape: the fact table collapses once to per-(type, hour)
    counts; a DENSE calendar×types grid (absent hours are true zeros,
    not missing data) is rebuilt from the distinct-hours and
    distinct-types dims, so every downstream row count is
    grid-sized — |hours|·|types|·(lags+1) joined rows, never
    data-sized. The lag join is an equi-join on the shifted hour key.
    Moments accumulate exactly (decimal lanes for the squared terms,
    which overflow BIGINT at real hourly volumes), the correlation
    divides per-factor-cast doubles identically on both engines, and
    the argmax ranks ROUNDED correlations with the lag as tie-break so
    a last-ulp divergence can never flip the winner. Zero-variance
    series are excluded before ranking (corr undefined)."""
    ev = table(spark, sf_dir, "events")
    counts = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count("*").alias("y"))
    # the grid is the COMPLETE calendar span, not just hours that
    # happen to contain events — a gap hour is a true zero, and a gappy
    # grid would silently misalign the lag shift (hour+lag falls in a
    # hole and the pair drops instead of contributing zeros).
    # ROUND-10 OPTIMIZATION (guide §1.2): bounds and the type dim used
    # to be two MORE independent aggregations of the fact table (the
    # self-join then replayed all three per side — 6 events scans in
    # the plan). Both now derive from `counts` itself: per-type hour
    # bounds, globalized by a window over the types-sized table, then
    # one calendar explode per type — 2 events scans per dense side,
    # and the hours×types crossJoin disappears.
    wg = Window.partitionBy()
    tb = (
        counts.groupBy("event_type")
        .agg(F.min("hour").alias("mn"), F.max("hour").alias("mx"))
        .select(
            "event_type",
            F.min("mn").over(wg).alias("h0"),
            F.max("mx").over(wg).alias("h1"),
        )
    )
    hours_per_type = tb.select(
        "event_type",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour"),
    )
    dense = (
        hours_per_type.join(counts, ["event_type", "hour"], "left")
        .select(
            "event_type", "hour", F.coalesce("y", F.lit(0)).alias("y")
        )
    )
    a = dense.select(
        F.col("event_type").alias("type_a"),
        F.col("hour").alias("hour_a"),
        F.col("y").alias("x"),
    ).crossJoin(
        F.broadcast(
            spark.range(XCORR_MAX_LAG_HOURS + 1).select(
                F.col("id").cast("int").alias("lag_h")
            )
        )
    )
    b = dense.select(
        F.col("event_type").alias("type_b"),
        F.col("hour").alias("hour_b"),
        F.col("y").alias("y"),
    )
    joined = a.join(
        b,
        (
            F.col("hour_b")
            == F.expr("timestampadd(HOUR, lag_h, hour_a)")
        )
        & (F.col("type_b") != F.col("type_a")),
    )
    dec = "decimal(18,0)"
    m = joined.groupBy("type_a", "type_b", "lag_h").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("y").cast(dec)).alias("sxy"),
        F.sum(F.col("x").cast(dec) * F.col("x").cast(dec)).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y").cast(dec)).alias("syy"),
    )
    n_d = F.col("n").cast("double")
    sx_d = F.col("sx").cast("double")
    sy_d = F.col("sy").cast("double")
    var_x = n_d * F.col("sxx").cast("double") - sx_d * sx_d
    var_y = n_d * F.col("syy").cast("double") - sy_d * sy_d
    corr = F.round(
        (n_d * F.col("sxy").cast("double") - sx_d * sy_d)
        / F.sqrt(var_x * var_y),
        6,
    )
    scored = (
        m.filter((var_x > 0) & (var_y > 0))
        .select("type_a", "type_b", "lag_h", corr.alias("corr"))
    )
    w = Window.partitionBy("type_a", "type_b").orderBy(
        F.desc("corr"), F.asc("lag_h")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("type_a", "type_b", F.col("lag_h").alias("best_lag"), "corr")
    )


@session_memo("audience_bitmap_words")
def _audience_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, word_id, word) — each type's user set OR-compressed
    into 64-bit bitmap words; session-persisted (round-11, the round-10
    'parked cache' re-measured at scale). The overlap query's self-join
    derives this table on BOTH sides (2 fact aggregations), and Catalyst
    does not reuse the exchange across them; the table itself is
    types × |users|/64 rows — tiny at any scale — while each derivation
    is a full fact scan. At 100× events (/tmp/sfev100) the persisted
    form measured 0.82-1.34 s vs 1.11-5.06 s for the derive-twice form;
    at sf0.1 the build is ~0.5 s slower than one derivation, which the
    session memo amortizes away from the second call on. Released with
    the ``audience_bitmap_words`` family."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.expr(
                f"(user_id - pmod(user_id, {_BITMAP_WORD_BITS}))"
                f" div {_BITMAP_WORD_BITS}"
            ).alias("word_id"),
            F.expr(
                f"shiftleft(1L, CAST(pmod(user_id, {_BITMAP_WORD_BITS})"
                " AS INT))"
            ).alias("bit"),
        )
        .groupBy("event_type", "word_id")
        .agg(F.bit_or("bit").alias("word"))
        .persist()
    )


@register(
    "q_audience_overlap",
    headline=True,
    tags=("analytics", "sketch", "setops", "scale"),
    oracle=f"""
        WITH keyed AS (
            SELECT event_type, user_id,
                   ((user_id % {_BITMAP_WORD_BITS}) + {_BITMAP_WORD_BITS})
                       % {_BITMAP_WORD_BITS} AS bitpos
            FROM events
        ),
        words AS (
            SELECT event_type,
                   (user_id - bitpos) // {_BITMAP_WORD_BITS} AS word_id,
                   bit_or(1::BIGINT << CAST(bitpos AS INTEGER)) AS word
            FROM keyed
            GROUP BY 1, 2
        ),
        sizes AS (
            SELECT event_type,
                   CAST(SUM(bit_count(word)) AS BIGINT) AS n_users
            FROM words GROUP BY 1
        ),
        inter AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   CAST(SUM(bit_count(a.word & b.word)) AS BIGINT)
                       AS n_overlap
            FROM words a JOIN words b
              ON a.word_id = b.word_id AND a.event_type < b.event_type
            GROUP BY 1, 2
        )
        SELECT i.type_a, i.type_b,
               sa.n_users AS users_a, sb.n_users AS users_b,
               i.n_overlap,
               ROUND(CAST(i.n_overlap AS DOUBLE)
                     / (sa.n_users + sb.n_users - i.n_overlap), 6)
                   AS jaccard,
               ROUND(CAST(i.n_overlap AS DOUBLE)
                     / LEAST(sa.n_users, sb.n_users), 6) AS containment
        FROM inter i
        JOIN sizes sa ON sa.event_type = i.type_a
        JOIN sizes sb ON sb.event_type = i.type_b
    """,
)
def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIENCE OVERLAP MATRIX: exact pairwise Jaccard / containment
    between the user sets of every event-type pair — "how much of the
    signup audience also purchases" across all pairs at once, the
    segment-overlap question BI tools answer with repeated
    COUNT(DISTINCT CASE ...) scans.

    The bitmap-word representation makes the PAIRWISE part cheap where
    it matters: each type's user set is OR-compressed into
    ceil(|users|/{_BITMAP_WORD_BITS}) BIGINT words (one fact-table
    aggregation, map-side combined), and every set operation downstream
    is word arithmetic — |A∩B| = Σ popcount(a AND b) via an equi-join
    on word_id over word-sized tables. At 100 TB the raw (type, user)
    pairs are touched exactly once; the |types|²/2 pair scan costs
    words × pairs, independent of event count, and is EXACT (the KMV
    twin ``q_sketch_kmv_setops`` is the bounded-memory estimate when
    even word tables are too big). Sign-safe pmod keying as in
    ``q_bitmap_distinct``.

    ROUND-10 OPTIMIZATION (guide §1.2/§2.4): the previous form built the
    word table FOUR times (a/b join sides + the two per-type size
    branches — Catalyst does not reuse the exchange across them,
    measured 0 ReusedExchange in the executed plan) and attached sizes
    via two extra joins. The diagonal of the intersection matrix IS the
    set size (popcount(w AND w) = popcount(w), and the (type, word_id)
    agg makes each diagonal word pair join exactly once), so the
    self-join now keeps ``type_a <= type_b`` and the per-type sizes are
    recovered from the (t, t) rows by two windows over the ≤ |types|²
    aggregated rows — 4 fact aggregations → 2 (the unavoidable
    self-join sides), 3 joins → 1, at every scale."""
    words = _audience_words(spark, sf_dir)
    a = words.select(
        F.col("event_type").alias("type_a"),
        "word_id",
        F.col("word").alias("wa"),
    )
    b = words.select(
        F.col("event_type").alias("type_b"),
        "word_id",
        F.col("word").alias("wb"),
    )
    inter_all = (
        a.join(b, "word_id")
        .filter(F.col("type_a") <= F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.sum(F.bit_count(F.expr("wa & wb")))
            .cast("bigint")
            .alias("n_overlap")
        )
    )
    diag = F.when(F.col("type_a") == F.col("type_b"), F.col("n_overlap"))
    out = (
        inter_all.withColumn(
            "users_a", F.max(diag).over(Window.partitionBy("type_a"))
        )
        .withColumn(
            "users_b", F.max(diag).over(Window.partitionBy("type_b"))
        )
        .filter(F.col("type_a") < F.col("type_b"))
    )
    union_sz = F.col("users_a") + F.col("users_b") - F.col("n_overlap")
    return out.select(
        "type_a",
        "type_b",
        "users_a",
        "users_b",
        "n_overlap",
        F.round(F.col("n_overlap").cast("double") / union_sz, 6).alias(
            "jaccard"
        ),
        F.round(
            F.col("n_overlap").cast("double")
            / F.least("users_a", "users_b"),
            6,
        ).alias("containment"),
    )


@register(
    "q_revenue_pareto",
    tags=("analytics", "window", "ntile", "skew"),
    oracle="""
        WITH spend AS (
            SELECT o_custkey,
                   SUM(CAST(o_totalprice AS DECIMAL(28,10))) AS s
            FROM orders GROUP BY 1
        ),
        ranked AS (
            SELECT o_custkey, s,
                   NTILE(10) OVER (ORDER BY s DESC, o_custkey) AS decile
            FROM spend
        ),
        cell AS (
            SELECT decile,
                   CAST(COUNT(*) AS BIGINT) AS n_customers,
                   SUM(s) AS rev
            FROM ranked GROUP BY 1
        ),
        tot AS (SELECT SUM(rev) AS total FROM cell)
        SELECT decile, n_customers,
               CAST(ROUND(rev, 2) AS DOUBLE) AS revenue,
               ROUND(CAST(rev AS DOUBLE) / CAST(total AS DOUBLE), 6)
                   AS revenue_share,
               ROUND(CAST(SUM(rev) OVER (ORDER BY decile) AS DOUBLE)
                     / CAST(total AS DOUBLE), 6) AS cum_share
        FROM cell CROSS JOIN tot
    """,
)
def q_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REVENUE PARETO / LORENZ DECILES: customers ranked by total spend,
    cut into top-down deciles, with each decile's revenue share and the
    cumulative concentration curve — "the top 10% of customers carry
    43% of revenue", the whale-dependence readout behind every
    account-tiering decision. Complements ``q_key_skew_gini`` (one
    number on event keys) with the full curve on revenue, and
    ``q_customer_rfm`` (same NTILE-over-customer-aggregate discipline).

    Plan: one fact aggregation on o_custkey (decimal-exact spend,
    map-side combined), NTILE over the customer-sized aggregate with
    the (spend DESC, custkey) tie-break, then a 10-row rollup — the
    share window and total scalar cost nothing. Decimal sums all the
    way down; doubles appear only in the final rounded ratios."""
    orders = table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(28,10)")).alias("s")
    )
    decile = F.ntile(10).over(
        Window.orderBy(F.desc("s"), F.asc("o_custkey"))
    )
    cell = (
        spend.withColumn("decile", decile)
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("s").alias("rev"),
        )
    )
    tot = cell.agg(F.sum("rev").alias("total"))
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return cell.crossJoin(F.broadcast(tot)).select(
        "decile",
        "n_customers",
        F.round(F.col("rev"), 2).cast("double").alias("revenue"),
        F.round(
            F.col("rev").cast("double") / F.col("total").cast("double"), 6
        ).alias("revenue_share"),
        F.round(
            F.sum("rev").over(w_cum).cast("double")
            / F.col("total").cast("double"),
            6,
        ).alias("cum_share"),
    )
