"""Join operators (SURVEY.md §2.5, Phase 3).

The reference's only "joins" are dict lookups (dashboard timestamp matching,
reference analytical_server.py:451-459, and the pubsub client registry,
pubsub.py:13). The engine implements the full relational join surface as
first-class, oracle-checked operators:

- equi inner/left-outer with broadcast dims (star joins),
- left-semi / left-anti,
- range (theta) join expressed as a **bucketized equi-join** so it shuffles
  on (key, time-bucket) instead of degenerating to a nested-loop —
  the 100 TB-safe plan,
- as-of join (nearest earlier timestamp) — the one join Spark lacks
  natively — composed from an ignore-nulls last-value window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..plans.registry import register


@register(
    "q_join_star",
    headline=True,
    tags=("join", "broadcast", "agg"),
    oracle="""
        SELECT r.r_name AS region, n.n_name AS nation,
               COUNT(*) AS n_orders,
               CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(28,10))), 2)
                    AS DOUBLE) AS revenue
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        GROUP BY 1, 2
    """,
)
def q_join_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: fact ⋈ three dims, revenue rollup per region/nation.
    Dims are explicitly broadcast — at 100 TB the fact side never shuffles
    for these joins (the dims are KBs)."""
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    return (
        orders.join(
            F.broadcast(customer), orders.o_custkey == customer.c_custkey
        )
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(
            F.count("*").alias("n_orders"),
            # decimal-exact sum, then DOUBLE for a render-stable contract
            # surface (DECIMAL scale differs between engines — VERDICT r1)
            F.round(F.sum(F.col("o_totalprice").cast("decimal(28,10)")), 2)
            .cast("double")
            .alias("revenue"),
        )
    )


@register(
    "q_join_semi",
    tags=("join", "semi"),
    oracle="""
        SELECT c_mktsegment, COUNT(*) AS n_customers
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        GROUP BY 1
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers WITH orders, per market segment — left-semi join (EXISTS).
    Semi joins only ship the join key, never duplicate rows."""
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").select("o_custkey")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


@register(
    "q_join_anti",
    tags=("join", "anti"),
    oracle="""
        SELECT c_custkey, c_name
        FROM customer c
        WHERE NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
        )
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no order since 2001 — left-anti join (NOT EXISTS).
    Date-filtered so the result is non-degenerate at every sf (every
    customer has *some* order in the synthetic data)."""
    customer = table(spark, sf_dir, "customer")
    orders = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2001-01-01 00:00:00").cast("timestamp"))
        .select("o_custkey")
    )
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "q_join_outer_counts",
    tags=("join", "outer"),
    oracle="""
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders,
               ROUND(COALESCE(SUM(o.o_totalprice), 0), 2) AS revenue
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1
    """,
)
def q_join_outer_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer join preserving zero-order customers — the dashboard's
    missing-timestamp → 0 fill (reference analytical_server.py:504-507) as
    outer-join + coalesce semantics."""
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias(
                "revenue"
            ),
        )
    )


@register(
    "q_join_range",
    headline=True,
    tags=("join", "range", "scale"),
    oracle="""
        WITH e AS (
            SELECT event_id, user_id,
                   CAST(floor(epoch(ts)) AS BIGINT) AS sec
            FROM events
        ),
        hits AS (
            SELECT a.event_id, COUNT(*) AS n
            FROM e a JOIN e b ON a.user_id = b.user_id
             AND b.event_id <> a.event_id
             AND b.sec BETWEEN a.sec - 60 AND a.sec + 60
            GROUP BY 1
        )
        SELECT e.event_id, COALESCE(h.n, 0) AS n_nearby
        FROM e LEFT JOIN hits h USING (event_id)
    """,
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range self-join: per event, how many other events by the same user
    fall within ±60 s (the Spark-native form of the dashboard's timestamp
    proximity matching, SURVEY.md §2.5 X1).

    Scale design: instead of a nested-loop theta join, each probe row is
    exploded into its minute bucket ±1 and the join is an **equi-join on
    (user_id, bucket)** followed by the exact |Δt| ≤ 60 filter. Every
    qualifying pair lands in exactly one probe bucket, so no dedup is
    needed, and the shuffle is hash-partitioned — at 100 TB this stays a
    shuffled hash join, never a cartesian.

    Oracle note: the proof decomposes differently from the engine (a
    per-user hash join with a BETWEEN residual + left zero-fill, not the
    bucket explode) — the original single LEFT JOIN with an abs()
    condition planned as a blockwise nested loop in DuckDB and became
    the round-6 10× soak's wall-clock hog (~27 s at sf0.1, quadratic
    beyond); this form hash-joins (0.17 s, same rows bit-for-bit)."""
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_timestamp(F.col("ts").cast("timestamp")).alias("sec")
    )
    probe = ev.withColumn(
        "bucket",
        F.explode(
            F.array(
                (F.col("sec") / 60).cast("long") - 1,
                (F.col("sec") / 60).cast("long"),
                (F.col("sec") / 60).cast("long") + 1,
            )
        ),
    )
    build = ev.select(
        F.col("event_id").alias("b_id"),
        F.col("user_id").alias("b_user"),
        F.col("sec").alias("b_sec"),
        (F.col("sec") / 60).cast("long").alias("bucket"),
    )
    joined = probe.join(
        build,
        (probe.user_id == build.b_user)
        & (probe.bucket == build.bucket)
        & (probe.event_id != build.b_id)
        & (F.abs(build.b_sec - probe.sec) <= 60),
        "left",
    )
    return joined.groupBy("event_id").agg(F.count("b_id").alias("n_nearby"))


@register(
    "q_join_asof",
    tags=("join", "asof", "window"),
    oracle="""
        SELECT event_id, last_click_ts FROM (
            SELECT event_id, event_type,
                   LAST_VALUE(CASE WHEN event_type = 'click' THEN ts END
                              IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS last_click_ts
            FROM events
        ) WHERE event_type = 'purchase'
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the same user's most recent strictly
    earlier click. Spark has no native as-of join (SURVEY.md §2.5); the
    engine composes it as an ignore-nulls last-value over an ordered
    per-user window — one shuffle on user_id, no join at all, which beats
    the range-join+row_number formulation at scale. Deterministic via the
    (ts, event_id) tie-break."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        ev.withColumn(
            "last_click_ts",
            F.last(
                F.when(F.col("event_type") == "click", F.col("ts")),
                ignorenulls=True,
            ).over(w),
        )
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "last_click_ts")
    )


@register(
    "q_join_theta_bnl",
    tags=("join", "theta"),
    oracle="""
        SELECT n.n_name AS nation, COUNT(*) AS n_pairs
        FROM nation n JOIN region r ON n.n_regionkey <> r.r_regionkey
        GROUP BY 1
    """,
)
def q_join_theta_bnl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure inequality (theta) join — legitimately a broadcast nested loop;
    kept to tiny dims only (nation × region), where BNL is the right plan
    at any scale."""
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    return (
        nation.join(
            F.broadcast(region), nation.n_regionkey != region.r_regionkey
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count("*").alias("n_pairs"))
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    num_salts: int = 8,
    how: str = "inner",
    seed: int = 7,
) -> DataFrame:
    """Skew-mitigating equi join: the fact side gets a per-row salt in
    [0, num_salts) and the dim side is replicated once per salt value, so
    a hot join key spreads over ``num_salts`` shuffle partitions instead
    of hammering one. AQE's skew-join split handles post-shuffle skew
    automatically; explicit salting is the pre-shuffle form for when one
    key alone exceeds what a single task should ever see. The join result
    is provably salt-invariant (every fact row still meets every matching
    dim row exactly once) — pinned by tests/test_skew.py against the
    plain join.

    rand(seed) is partition-deterministic in Spark, so retries recompute
    the same salt."""
    salted_fact = fact.withColumn(
        "__salt", F.floor(F.rand(seed) * num_salts).cast("int")
    )
    salted_dim = dim.withColumn(
        "__salt",
        F.explode(F.sequence(F.lit(0), F.lit(num_salts - 1)).cast("array<int>")),
    )
    out = salted_fact.join(salted_dim, [key, "__salt"], how)
    return out.drop("__salt")


@register(
    "q_join_salted",
    tags=("join", "skew", "scale"),
    oracle="""
        SELECT n_name, COUNT(*) AS n_orders,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,10))), 2)
                    AS DOUBLE) AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation order rollup routed through the salted join (customer
    dim replicated ×8): byte-identical to the unsalted plan's answer —
    the oracle is the plain SQL join — while the fact shuffle key is
    (custkey, salt). Demonstrates the skew path the engine reaches for
    when AQE's split isn't enough."""
    orders = table(spark, sf_dir, "orders").withColumnRenamed(
        "o_custkey", "c_custkey"
    )
    customer = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    return (
        salted_join(orders, customer, "c_custkey", num_salts=8)
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(28,10)")), 2)
            .cast("double")
            .alias("revenue"),
        )
    )


@register(
    "q_twophase_distinct",
    tags=("agg", "skew", "scale"),
    oracle="""
        SELECT event_type, COUNT(DISTINCT user_id) AS n_users
        FROM events GROUP BY event_type
    """,
)
def q_twophase_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact count-distinct as an explicit two-phase aggregation:
    pre-aggregate on (event_type, user_id) — map-side partials shrink the
    shuffle to one row per distinct pair — then count per type. This is
    the skew-safe expansion Catalyst performs for COUNT(DISTINCT) under
    one grouping, written out because at 100 TB the engine picks it
    directly (or approx_count_distinct) instead of funneling a hot type
    through a single aggregation path."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(F.count("*").alias("n_users"))
    )


@register(
    "q_join_asof_tolerance",
    tags=("join", "asof", "window"),
    oracle="""
        SELECT event_id,
               CASE WHEN last_click_ts IS NOT NULL
                         AND last_click_ts >= ts - INTERVAL 10 MINUTE
                    THEN last_click_ts END AS attributed_click_ts,
               CASE WHEN last_click_ts IS NOT NULL
                         AND last_click_ts >= ts - INTERVAL 10 MINUTE
                    THEN 1 ELSE 0 END AS attributed
        FROM (
            SELECT event_id, event_type, ts,
                   LAST_VALUE(CASE WHEN event_type = 'click' THEN ts END
                              IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS last_click_ts
            FROM events
        ) WHERE event_type = 'purchase'
    """,
)
def q_join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a tolerance (attribution-window form): each
    purchase matches the same user's most recent earlier click only if it
    happened within 10 minutes — older matches are dropped to null, the
    pandas ``merge_asof(tolerance=...)`` semantics. Same single-shuffle
    window plan as q_join_asof; the tolerance is a post-filter on the
    matched timestamp, not a second join."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_click = F.last(
        F.when(F.col("event_type") == "click", F.col("ts")), ignorenulls=True
    ).over(w)
    # reference the materialized column, NOT the window expression — a
    # window expression used after the purchase filter would re-evaluate
    # over the filtered frame (clicks gone) and silently change semantics
    in_window = F.col("last_click_ts").isNotNull() & (
        F.col("last_click_ts") >= F.col("ts") - F.expr("INTERVAL 10 MINUTES")
    )
    return (
        ev.withColumn("last_click_ts", last_click)
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            F.when(in_window, F.col("last_click_ts")).alias(
                "attributed_click_ts"
            ),
            F.when(in_window, 1).otherwise(0).alias("attributed"),
        )
    )


@register(
    "q_join_null_safe",
    tags=("join", "null-semantics"),
    oracle="""
        WITH a AS (
            SELECT NULLIF(event_type, 'error') AS k, COUNT(*) AS cnt_a
            FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
            GROUP BY 1
        ),
        b AS (
            SELECT NULLIF(event_type, 'error') AS k, COUNT(*) AS cnt_b
            FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
            GROUP BY 1
        )
        SELECT a.k AS event_key, a.cnt_a, b.cnt_b
        FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe join equality (``<=>`` / IS NOT DISTINCT FROM): the NULL
    group — here a sentinel type nulled out via ``nullif`` — survives the
    join, where plain ``=`` silently drops it (the classic silent-data-loss
    bug when joining on nullable derived keys). Plans as a normal hash
    join: null-safe equality still hash-partitions (NULL hashes to a
    bucket), so the scale story is identical to an equi-join."""
    ev = table(spark, sf_dir, "events")
    split = F.lit("2024-01-15 00:00:00").cast("timestamp_ntz")
    key = F.nullif(F.col("event_type"), F.lit("error"))
    a = (
        ev.filter(F.col("ts") < split)
        .groupBy(key.alias("k"))
        .agg(F.count("*").alias("cnt_a"))
    )
    b = (
        ev.filter(F.col("ts") >= split)
        .groupBy(key.alias("kb"))
        .agg(F.count("*").alias("cnt_b"))
    )
    return a.join(b, F.col("k").eqNullSafe(F.col("kb"))).select(
        F.col("k").alias("event_key"), "cnt_a", "cnt_b"
    )


# interval-overlap join: sessions × daily maintenance windows
IVL_GAP_SEC = 1800  # session gap (same rule as q_sessionize)
IVL_WIN_START_H = 2  # maintenance window [02:00, 03:00) each day
IVL_WIN_END_H = 3


@register(
    "q_join_interval_overlap",
    tags=("join", "interval", "scale"),
    oracle=f"""
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                             - CAST(floor(epoch(lag(ts) OVER (
                                   PARTITION BY user_id
                                   ORDER BY ts, event_id))) AS BIGINT)
                             > {IVL_GAP_SEC}
                             OR lag(ts) OVER (
                                   PARTITION BY user_id
                                   ORDER BY ts, event_id) IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        ), numbered AS (
            SELECT user_id, ts,
                   SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING
                   ) AS session_id
            FROM flagged
        ), sessions AS (
            SELECT user_id, session_id,
                   CAST(floor(epoch(MIN(ts))) AS BIGINT) AS s_start,
                   CAST(floor(epoch(MAX(ts))) AS BIGINT) AS s_end
            FROM numbered GROUP BY 1, 2
        ), wins AS (
            SELECT day,
                   CAST(floor(epoch(day)) AS BIGINT)
                       + {IVL_WIN_START_H} * 3600 AS w_start,
                   CAST(floor(epoch(day)) AS BIGINT)
                       + {IVL_WIN_END_H} * 3600 AS w_end
            FROM (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP)
                         AS day FROM events)
        )
        SELECT w.day,
               CAST(COUNT(*) AS BIGINT) AS n_sessions,
               CAST(SUM(LEAST(s.s_end, w.w_end)
                        - GREATEST(s.s_start, w.w_start)) AS BIGINT)
                   AS overlap_sec
        FROM sessions s JOIN wins w
          ON s.s_start < w.w_end AND w.w_start < s.s_end
        GROUP BY 1
    """,
)
def q_join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL-OVERLAP join — two interval relations (user sessions from
    the >{IVL_GAP_SEC}s-gap sessionizer × daily [0{IVL_WIN_START_H}:00,
    0{IVL_WIN_END_H}:00) maintenance windows), matched on the strict
    half-open overlap predicate, rolled up to per-window session counts
    and total overlapped seconds — the ops question ("how much activity
    does the nightly window collide with?") that needs a real
    interval×interval join, not the point-in-range shape of
    ``q_join_range``.

    Plan: both interval sets explode onto an HOUR GRID and the join is
    an **equi-join on the hour bucket** plus the exact overlap
    predicate; a (session, window) pair sharing several buckets is
    collapsed by a pre-aggregation DISTINCT. The oracle runs the naive
    theta join — the hash match proves the grid decomposition exact. At
    100 TB the theta form is a cartesian death sentence while the grid
    form shuffles each interval once per covered hour (bounded by
    interval length / grid step — the standard interval-join
    discretization); grid step is a compile-time dial matched to typical
    interval length."""
    ev = table(spark, sf_dir, "events")
    w_flag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.unix_timestamp(F.col("ts").cast("timestamp"))
    prev_sec = F.unix_timestamp(F.lag("ts").over(w_flag).cast("timestamp"))
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            prev_sec.isNull() | ((sec - prev_sec) > IVL_GAP_SEC), 1
        ).otherwise(0).alias("new_session"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    numbered = flagged.select(
        "user_id",
        "ts",
        F.sum("new_session").over(w_run).alias("session_id"),
    )
    sessions = numbered.groupBy("user_id", "session_id").agg(
        F.unix_timestamp(F.min("ts").cast("timestamp")).alias("s_start"),
        F.unix_timestamp(F.max("ts").cast("timestamp")).alias("s_end"),
    )
    day_epoch = F.unix_timestamp(
        F.date_trunc("day", F.col("ts")).cast("timestamp")
    )
    wins = (
        ev.select(
            F.date_trunc("day", F.col("ts")).alias("day"),
            (day_epoch + IVL_WIN_START_H * 3600).alias("w_start"),
            (day_epoch + IVL_WIN_END_H * 3600).alias("w_end"),
        )
        .distinct()
    )
    s_bucketed = sessions.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                (F.col("s_start") / 3600).cast("long"),
                (F.col("s_end") / 3600).cast("long"),
            )
        ),
    )
    w_bucketed = wins.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                (F.col("w_start") / 3600).cast("long"),
                (F.col("w_end") / 3600).cast("long"),
            )
        ),
    )
    matched = (
        s_bucketed.join(w_bucketed, "bucket")
        .filter(
            (F.col("s_start") < F.col("w_end"))
            & (F.col("w_start") < F.col("s_end"))
        )
        .select(
            "day", "w_start", "w_end", "user_id", "session_id",
            "s_start", "s_end",
        )
        .distinct()
    )
    overlap = F.least("s_end", "w_end") - F.greatest("s_start", "w_start")
    return matched.groupBy("day").agg(
        F.count("*").alias("n_sessions"),
        F.sum(overlap).cast("long").alias("overlap_sec"),
    )


# --- Bloom-filter-pruned join (runtime-filter pattern) ----------------------
BJ_M = 1 << 16  # bloom bits
BJ_WORDS = BJ_M // 64
BJ_K = 3  # hashes per key
BJ_PRIORITY = "1-URGENT"


def _bj_pos_sql(dialect: str, k: int, key: str) -> str:
    """Bloom position k for a bigint key — the same 44-bit md5 prefix
    arithmetic the dedup tier uses, mod the bit-array size."""
    if dialect == "spark":
        arg = f"concat('{k}:', CAST({key} AS STRING))"
        return f"(conv(substring(md5({arg}), 1, 11), 16, 10) % {BJ_M})"
    arg = f"concat('{k}:', CAST({key} AS VARCHAR))"
    return f"(CAST('0x' || substr(md5({arg}), 1, 11) AS BIGINT) % {BJ_M})"


@register(
    "q_join_bloom_pruned",
    headline=True,
    tags=("join", "bloom", "scale", "pushdown"),
    oracle=f"""
        WITH sel AS (
            SELECT o_orderkey FROM orders
            WHERE o_orderpriority = '{BJ_PRIORITY}'
        ),
        bits AS (
            SELECT DISTINCT pos FROM (
                {" UNION ALL ".join(
                    f"SELECT {_bj_pos_sql('duck', k, 'o_orderkey')} AS pos"
                    f" FROM sel" for k in range(BJ_K)
                )}
            )
        ),
        probed AS (
            SELECT l.l_orderkey, l.l_extendedprice,
                   ({" AND ".join(
                       f"EXISTS (SELECT 1 FROM bits b WHERE b.pos = "
                       f"{_bj_pos_sql('duck', k, 'l.l_orderkey')})"
                       for k in range(BJ_K)
                   )}) AS pass
            FROM lineitem l
        ),
        joined AS (
            SELECT p.pass, (s.o_orderkey IS NOT NULL) AS matched,
                   p.l_extendedprice
            FROM probed p LEFT JOIN sel s ON p.l_orderkey = s.o_orderkey
            WHERE p.pass
        ),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_fact FROM lineitem)
        SELECT t.n_fact,
               CAST(COUNT(*) AS BIGINT) AS n_pass,
               CAST(SUM(CASE WHEN matched THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_joined,
               CAST(SUM(CASE WHEN matched THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_false_pos,
               CAST(ROUND(SUM(CASE WHEN matched THEN
                   CAST(l_extendedprice AS DECIMAL(28,10)) ELSE 0 END), 2)
                   AS DOUBLE) AS revenue
        FROM joined, tot t
        GROUP BY t.n_fact
    """,
)
def q_join_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM-PRUNED fact join — the runtime-filter pattern Spark's AQE
    applies under `spark.sql.optimizer.runtimeFilter.bloomFilter`,
    made explicit and deterministic: the filtered dimension
    ({BJ_PRIORITY} orders) hashes its keys {BJ_K}× into a {BJ_M}-bit
    Bloom filter, the filter ships to every fact partition as a
    {BJ_WORDS}-word bitmap inside ONE broadcast row, and fact rows
    failing any bit never reach the join. Output is the audit row:
    total fact rows, bloom survivors, true joins, realized false
    positives, and the joined revenue — the hash match proves
    no-false-negatives end-to-end (the oracle probes the same bit SET
    relationally; bitmap encode/decode must equal set membership).

    Why it matters at 100 TB: a selective dim filter prunes the fact
    scan BEFORE the join shuffle — survivors are ~selectivity + fp
    rate of the fact table, so shuffle volume drops proportionally;
    the bitmap costs {BJ_M // 8 // 1024} KiB however large the corpus.

    Plan: bloom build = one pass over the filtered dim (distinct bit
    positions, word-packed via bit_or partial aggs); probe = per-row
    bit tests against the broadcast bitmap (codegen, no join); only
    survivors hit the broadcast-hash join with the dim."""
    li = table(spark, sf_dir, "lineitem")
    # the probe is hash-bound (3 md5/row): low-SF local fixtures arrive as
    # a couple of parquet splits, so fan the expression work out — at real
    # scale the file splits already provide parallelism and this is a
    # no-op (same guard as the shingle cache build)
    par = spark.sparkContext.defaultParallelism
    if len(li.inputFiles()) < par:
        li = li.repartition(par)
    orders = table(spark, sf_dir, "orders")
    sel = orders.filter(F.col("o_orderpriority") == BJ_PRIORITY).select(
        "o_orderkey"
    )
    pos = sel.select(
        F.explode(
            F.array(
                *[
                    F.expr(_bj_pos_sql("spark", k, "o_orderkey"))
                    for k in range(BJ_K)
                ]
            )
        ).alias("pos")
    ).distinct()
    words = pos.groupBy(F.expr("pos div 64").alias("word_id")).agg(
        F.expr("bit_or(shiftleft(1L, cast(pos % 64 as int)))").alias("word")
    )
    bitmap = words.agg(
        F.map_from_entries(
            F.collect_list(F.struct("word_id", "word"))
        ).alias("wmap")
    ).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(BJ_WORDS - 1)),
            lambda i: F.coalesce(
                F.element_at(F.col("wmap"), i.cast("long")), F.lit(0).cast("long")
            ),
        ).alias("words")
    )
    # each position is PROJECTED once (an md5 + conv per hash, the real
    # probe cost at scale) and the bit test reuses the column — a single
    # expression would evaluate the hash twice (word index + shift)
    probed = (
        li.select("l_orderkey", "l_extendedprice")
        .crossJoin(F.broadcast(bitmap))
        .select(
            "l_orderkey",
            "l_extendedprice",
            "words",
            *[
                F.expr(_bj_pos_sql("spark", k, "l_orderkey")).alias(f"p{k}")
                for k in range(BJ_K)
            ],
        )
    )
    hits = [
        F.expr(
            f"((element_at(words, cast(p{k} div 64 as int) + 1)"
            f" >> cast(p{k} % 64 as int)) & 1) = 1"
        )
        for k in range(BJ_K)
    ]
    # ROUND-10 OPTIMIZATION (guide §1.2 — don't scan twice): n_fact was
    # previously a SEPARATE count subtree over lineitem crossJoined onto
    # the stats row, i.e. a second full pass over the fact table (see
    # plans/r10/q_join_bloom_pruned_before.txt). The bloom verdict now
    # rides each row as a `pass` column, the (broadcast) dim join keys on
    # `pass AND key equality`, and ONE conditional aggregation pass
    # produces every audit counter — same values (matched implies pass;
    # decimal revenue sum is order-independent), one fact scan, no cross
    # join. At 100 TB this halves fact-table I/O for the query.
    withpass = probed.withColumn("pass", hits[0] & hits[1] & hits[2])
    joined = withpass.join(
        F.broadcast(sel),
        (withpass["l_orderkey"] == sel["o_orderkey"]) & F.col("pass"),
        "left",
    ).select(
        "pass",
        F.col("o_orderkey").isNotNull().alias("matched"),
        "l_extendedprice",
    )
    return joined.agg(
        F.count("*").alias("n_fact"),
        F.sum(F.when(F.col("pass"), 1).otherwise(0)).alias("n_pass"),
        F.sum(F.when(F.col("matched"), 1).otherwise(0)).alias("n_joined"),
        F.sum(
            F.when(F.col("pass") & ~F.col("matched"), 1).otherwise(0)
        ).alias("n_false_pos"),
        F.round(
            F.sum(
                F.when(
                    F.col("matched"),
                    F.col("l_extendedprice").cast("decimal(28,10)"),
                ).otherwise(F.lit(0).cast("decimal(28,10)"))
            ),
            2,
        )
        .cast("double")
        .alias("revenue"),
    ).select("n_fact", "n_pass", "n_joined", "n_false_pos", "revenue")


ATTR_WINDOW_DAYS = 3  # attribution lookback
ATTR_TOUCHES = ("click", "view")  # attributable touchpoints


@register(
    "q_attribution_last_touch",
    tags=("join", "asof", "window", "llm-pipeline"),
    oracle=f"""
        WITH touched AS (
            SELECT event_id, event_type, ts, value,
                   LAST_VALUE(CASE WHEN event_type IN
                       ({", ".join(f"'{t}'" for t in ATTR_TOUCHES)})
                       THEN ts END IGNORE NULLS) OVER w AS lt_ts,
                   LAST_VALUE(CASE WHEN event_type IN
                       ({", ".join(f"'{t}'" for t in ATTR_TOUCHES)})
                       THEN event_type END IGNORE NULLS) OVER w AS lt_type
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        )
        SELECT CASE WHEN lt_ts IS NOT NULL
                     AND lt_ts >= ts - INTERVAL {ATTR_WINDOW_DAYS} DAY
                    THEN lt_type ELSE 'direct' END AS channel,
               CAST(COUNT(*) AS BIGINT) AS n_purchases,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(28,10))), 2) AS DOUBLE)
                   AS attributed_value
        FROM touched
        WHERE event_type = 'purchase'
        GROUP BY 1
    """,
)
def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAST-TOUCH ATTRIBUTION — the marketing-analytics application of
    the as-of join: each purchase credits the same user's most recent
    preceding click/view if it happened within the
    {ATTR_WINDOW_DAYS}-day lookback, else 'direct'; per-channel
    purchase counts and attributed value roll up decimal-exact.
    Extends ``q_join_asof``'s mechanism (ignore-nulls last-value over
    the per-user ordered window — no join node at all) with the
    windowed-validity predicate and the value rollup a real
    attribution pipeline needs.

    Plan: one shuffle on user_id for the window, one channel rollup
    over purchase rows only. The two ignore-nulls last-values share
    one window spec (a single sort), and at 100 TB the state per user
    is one running (ts, type) pair."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin(*ATTR_TOUCHES)
    touched = ev.select(
        "event_id",
        "event_type",
        F.col("ts").cast("timestamp").alias("ts"),
        "value",
        F.last(F.when(is_touch, F.col("ts").cast("timestamp")), ignorenulls=True)
        .over(w)
        .alias("lt_ts"),
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("lt_type"),
    )
    channel = F.when(
        F.col("lt_ts").isNotNull()
        & (
            F.col("lt_ts")
            >= F.col("ts") - F.expr(f"INTERVAL {ATTR_WINDOW_DAYS} DAY")
        ),
        F.col("lt_type"),
    ).otherwise(F.lit("direct"))
    return (
        touched.filter(F.col("event_type") == "purchase")
        .groupBy(channel.alias("channel"))
        .agg(
            F.count("*").alias("n_purchases"),
            F.round(F.sum(F.col("value").cast("decimal(28,10)")), 2)
            .cast("double")
            .alias("attributed_value"),
        )
    )


@register(
    "q_join_asof_forward",
    tags=("join", "asof", "window"),
    oracle="""
        SELECT event_id, next_purchase_ts,
               CAST(floor(epoch(next_purchase_ts)) AS BIGINT)
                 - CAST(floor(epoch(ts)) AS BIGINT) AS latency_sec
        FROM (
            SELECT event_id, event_type, ts,
                   FIRST_VALUE(CASE WHEN event_type = 'purchase'
                                    THEN ts END IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
                   ) AS next_purchase_ts
            FROM events
        ) WHERE event_type = 'click'
    """,
)
def q_join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: for each click, the same user's next strictly
    later purchase and the click-to-purchase latency — the symmetric
    twin of ``q_join_asof``'s backward lookup (together they cover both
    as-of directions; tolerance-bounded is ``q_join_asof_tolerance``).
    Composes as an ignore-nulls FIRST_VALUE over the FOLLOWING frame of
    the same per-user window — one shuffle on user_id, no join node, so
    the hot-user blowup a range-join formulation risks can't happen.
    Clicks with no later purchase yield NULL in both engines."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    nxt = F.first(
        F.when(F.col("event_type") == "purchase", F.col("ts")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.withColumn("next_purchase_ts", nxt)
        .filter(F.col("event_type") == "click")
        .select(
            "event_id",
            "next_purchase_ts",
            (
                F.unix_timestamp(
                    F.col("next_purchase_ts").cast("timestamp")
                )
                - F.unix_timestamp(F.col("ts").cast("timestamp"))
            ).alias("latency_sec"),
        )
    )


_BUCKETED_READY: set[tuple[str, str]] = set()
_SMB_BUCKETS = 16


def _bucketed_pair(spark: SparkSession, sf_dir: str):
    """Materialize orders+lineitem as bucketed catalog tables (once per
    session+fixture) and return them. Bucketing is the pay-once layout
    lever: both sides hashed into {_SMB_BUCKETS} buckets on the join key
    at WRITE time, so every subsequent orderkey join sort-merges
    bucket-to-bucket with no Exchange (plan pinned by
    tests/test_bucketing.py)."""
    import hashlib
    import re

    # tag carries BOTH the human-readable basename and a hash of the
    # FULL fixture path: two fixture dirs sharing a basename (e.g.
    # /a/sf0.01 and /b/sf0.01) get distinct catalog tables instead of
    # the second silently reading the first's bucketed data
    norm = sf_dir.rstrip("/")
    tag = re.sub(r"[^0-9a-zA-Z]", "_", norm.rsplit("/", 1)[-1])
    tag += "_" + hashlib.sha1(norm.encode()).hexdigest()[:8]
    key = (spark.sparkContext.applicationId, norm)
    names = (f"smb_orders_{tag}", f"smb_lineitem_{tag}")
    if key not in _BUCKETED_READY:
        from ..catalog import write_bucketed

        # a fresh session's in-memory catalog has no entry for these
        # tables, but a previous session's warehouse DIRECTORY may
        # survive on disk — saveAsTable then fails with
        # LOCATION_ALREADY_EXISTS. Drop the catalog entry AND clear any
        # orphaned location before writing.
        import shutil
        from urllib.parse import urlparse

        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        for name in names:
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            shutil.rmtree(f"{wh}/{name}", ignore_errors=True)

        write_bucketed(
            table(spark, sf_dir, "orders"),
            names[0],
            ("o_orderkey",),
            num_buckets=_SMB_BUCKETS,
        )
        write_bucketed(
            table(spark, sf_dir, "lineitem"),
            names[1],
            ("l_orderkey",),
            num_buckets=_SMB_BUCKETS,
        )
        _BUCKETED_READY.add(key)
    return spark.table(names[0]), spark.table(names[1])


@register(
    "q_join_bucketed_smb",
    tags=("join", "bucketing", "layout", "scale"),
    oracle="""
        SELECT o.o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                              AS DECIMAL(28,10))), 2) AS DOUBLE) AS revenue
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1
    """,
)
def q_join_bucketed_smb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUCKETED SORT-MERGE JOIN: the fact-to-fact orderkey join
    (orders ⋈ lineitem — BOTH sides data-sized, the one star-schema
    join that can never broadcast) executed over catalog tables written
    ``bucketBy(orderkey)``, so the join is co-located bucket-to-bucket
    and pays NO shuffle per query — the layout paid the shuffle once at
    write time. This is the 100 TB answer for a join that repeats on
    every dashboard refresh: amortize the exchange into the table
    layout (tests/test_bucketing.py pins the Exchange-free
    SortMergeJoin plan; this registry entry pins that the bucketed path
    returns bit-identical RESULTS to the plain-parquet oracle join).

    The bucketed write is memoized per session+fixture; revenue folds
    decimal(28,10) before the one rounded double cast, per registry
    convention."""
    ob, lb = _bucketed_pair(spark, sf_dir)
    return (
        lb.join(ob, lb.l_orderkey == ob.o_orderkey)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").alias("n_lines"),
            F.round(
                F.sum(
                    (
                        F.col("l_extendedprice")
                        * (1 - F.col("l_discount"))
                    ).cast("decimal(28,10)")
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
        )
    )


CONV_WINDOW_SEC = 3 * 86_400  # conversion attribution window: 3 days


@register(
    "q_conversion_latency",
    tags=("join", "asof", "funnel", "stats"),
    oracle=f"""
        WITH conv AS (
            SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS click_day,
                   CAST(floor(epoch(next_purchase_ts)) AS BIGINT)
                     - CAST(floor(epoch(ts)) AS BIGINT) AS latency_sec
            FROM (
                SELECT event_type, ts,
                       FIRST_VALUE(CASE WHEN event_type = 'purchase'
                                        THEN ts END IGNORE NULLS) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 1 FOLLOWING
                                    AND UNBOUNDED FOLLOWING
                       ) AS next_purchase_ts
                FROM events
            ) WHERE event_type = 'click'
        )
        SELECT click_day,
               CAST(COUNT(*) AS BIGINT) AS n_clicks,
               CAST(COUNT(*) FILTER (
                   WHERE latency_sec <= {CONV_WINDOW_SEC}) AS BIGINT)
                   AS n_converted,
               ROUND(CAST(COUNT(*) FILTER (
                         WHERE latency_sec <= {CONV_WINDOW_SEC})
                         AS DOUBLE) / COUNT(*), 6) AS conv_rate,
               ROUND(quantile_cont(latency_sec, 0.5) FILTER (
                   WHERE latency_sec <= {CONV_WINDOW_SEC}), 4) AS p50_sec,
               ROUND(quantile_cont(latency_sec, 0.9) FILTER (
                   WHERE latency_sec <= {CONV_WINDOW_SEC}), 4) AS p90_sec
        FROM conv
        GROUP BY 1
    """,
)
def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERSION LATENCY DISTRIBUTION: per click day, how many clicks
    convert to a purchase within the {CONV_WINDOW_SEC // 86_400}-day
    attribution window and the p50/p90 time-to-convert of those that do
    — the funnel-timing readout that turns ``q_funnel_conversion``'s
    "did they convert" into "how long did it take", per cohort day.

    Plan: the next-purchase lookup is the FORWARD AS-OF mechanism
    (``q_join_asof_forward``): one ignore-nulls FIRST_VALUE over the
    per-user FOLLOWING frame — one user-keyed shuffle, no join node, no
    hot-user range-join blowup. The day rollup then computes counts and
    EXACT interpolated percentiles (both engines implement the same
    linear-interpolation rule; round(4) absorbs ulp drift) over
    calendar-sized groups. Unconverted clicks (no later purchase, or
    one beyond the window) count in the denominator and are excluded
    from the latency percentiles in both engines identically."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    nxt = F.first(
        F.when(F.col("event_type") == "purchase", F.col("ts")),
        ignorenulls=True,
    ).over(w)
    conv = (
        ev.withColumn("next_purchase_ts", nxt)
        .filter(F.col("event_type") == "click")
        .select(
            F.date_trunc("day", F.col("ts")).alias("click_day"),
            (
                F.unix_timestamp(F.col("next_purchase_ts").cast("timestamp"))
                - F.unix_timestamp(F.col("ts").cast("timestamp"))
            ).alias("latency_sec"),
        )
    )
    in_window = F.col("latency_sec") <= CONV_WINDOW_SEC
    lat_in = F.when(in_window, F.col("latency_sec"))
    return conv.groupBy("click_day").agg(
        F.count("*").alias("n_clicks"),
        F.count(F.when(in_window, 1)).alias("n_converted"),
        F.round(
            F.count(F.when(in_window, 1)).cast("double") / F.count("*"), 6
        ).alias("conv_rate"),
        F.round(
            F.expr(
                f"percentile(CASE WHEN latency_sec <= {CONV_WINDOW_SEC}"
                " THEN latency_sec END, 0.5)"
            ),
            4,
        ).alias("p50_sec"),
        F.round(
            F.expr(
                f"percentile(CASE WHEN latency_sec <= {CONV_WINDOW_SEC}"
                " THEN latency_sec END, 0.9)"
            ),
            4,
        ).alias("p90_sec"),
    )


@register(
    "q_attribution_linear",
    tags=("join", "asof", "window", "attribution"),
    oracle=f"""
        WITH nxt AS (
            SELECT event_id, event_type, ts, user_id,
                   FIRST_VALUE(CASE WHEN event_type = 'purchase'
                       THEN ts END IGNORE NULLS) OVER w AS p_ts,
                   FIRST_VALUE(CASE WHEN event_type = 'purchase'
                       THEN event_id END IGNORE NULLS) OVER w AS p_id,
                   FIRST_VALUE(CASE WHEN event_type = 'purchase'
                       THEN value END IGNORE NULLS) OVER w AS p_value
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 1 FOLLOWING
                                  AND UNBOUNDED FOLLOWING)
        ),
        credited AS (
            SELECT event_type AS channel, p_id, p_value,
                   ROW_NUMBER() OVER (PARTITION BY p_id
                                      ORDER BY ts, event_id) AS rn
            FROM nxt
            WHERE event_type IN
                  ({", ".join(f"'{t}'" for t in ATTR_TOUCHES)})
              AND p_id IS NOT NULL
              AND p_ts <= ts + INTERVAL {ATTR_WINDOW_DAYS} DAY
        ),
        per_p AS (
            SELECT p_id, CAST(COUNT(*) AS BIGINT) AS n FROM credited
            GROUP BY 1
        ),
        weighted AS (
            SELECT c.channel,
                   CASE WHEN c.rn = 1
                        THEN CAST(1 AS DECIMAL(28,10))
                             - CAST(p.n - 1 AS DECIMAL(7,0))
                               * CAST(ROUND(1.0 / p.n, 10)
                                      AS DECIMAL(12,10))
                        ELSE CAST(ROUND(1.0 / p.n, 10)
                                  AS DECIMAL(28,10))
                   END AS w,
                   CASE WHEN c.rn = 1
                        THEN CAST(ROUND(c.p_value, 10)
                                  AS DECIMAL(28,10))
                             - CAST(p.n - 1 AS DECIMAL(7,0))
                               * CAST(ROUND(c.p_value / p.n, 10)
                                      AS DECIMAL(22,10))
                        ELSE CAST(ROUND(c.p_value / p.n, 10)
                                  AS DECIMAL(28,10))
                   END AS wv
            FROM credited c JOIN per_p p USING (p_id)
            UNION ALL
            SELECT 'direct' AS channel,
                   CAST(1 AS DECIMAL(28,10)) AS w,
                   CAST(ROUND(e.value, 10) AS DECIMAL(28,10)) AS wv
            FROM events e
            WHERE e.event_type = 'purchase'
              AND NOT EXISTS (SELECT 1 FROM per_p p
                              WHERE p.p_id = e.event_id)
        )
        SELECT channel,
               CAST(ROUND(SUM(w), 4) AS DOUBLE) AS attributed_purchases,
               CAST(ROUND(SUM(wv), 2) AS DOUBLE) AS attributed_value
        FROM weighted
        GROUP BY 1
    """,
)
def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR MULTI-TOUCH ATTRIBUTION: every purchase's credit splits
    EQUALLY across all touches (click/view) in its
    {ATTR_WINDOW_DAYS}-day lookback — the equal-weight counterpart of
    ``q_attribution_last_touch``, and the model marketing teams compare
    against it to see how much credit last-touch steals from upper
    funnel. Purchases with no in-window touch attribute to ``direct``
    with full weight, so per-channel attributed_purchases sums exactly
    to the purchase count (conservation pinned by test).

    Plan (ROUND-10 OPTIMIZATION, guide §1.2/§2.4 — the old form
    replayed the user-window chain FOUR times: once under the credit
    rows, once under the per-purchase count, and once under each side
    of the direct anti-join): the whole query is now ONE tree over ONE
    events scan. Each touch finds ITS next purchase via the forward
    as-of window; a BACKWARD window in the SAME user partition (same
    exchange+sort) marks each purchase as direct — a purchase is
    credited iff its latest preceding touch after the previous purchase
    is inside the lookback (earlier touches have smaller ts, so the
    latest is the easiest to qualify). Credited touches and direct
    purchases then flow through one partition-keyed Window: touches key
    on their purchase's id, direct purchases on their OWN event_id
    (collision-free — a direct purchase, by definition, is nobody's
    p_id), so count-over-window replaces the per-purchase aggregation
    AND the credit join, and a direct purchase degenerates to n=1,
    rn=1, making the remainder formula yield exactly w=1,
    wv=round(value, 10) — the same expression covers both row classes.
    Fractional credits round to 10 dp in double (identical IEEE on both
    engines) then accumulate as decimal(28,10) — exact, order-free
    summation — before the final rounded readout. Conservation is
    EXACT, not to-the-grain: the FIRST touch of each purchase (ts,
    event_id order) takes the remainder ``1 − (n−1)·round(1/n, 10)`` so
    per-purchase credit sums to precisely 1 (and weighted value to
    round(p_value, 10)) in exact decimal arithmetic; the remainder
    product stays in DECIMAL(12,10) × DECIMAL(7,0) lanes, inside both
    engines' no-truncation precision rules (documented bound: < 10^7
    touches per purchase)."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    w_back = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )

    def nxt_of(col: str):
        return F.first(
            F.when(F.col("event_type") == "purchase", F.col(col)),
            ignorenulls=True,
        ).over(w)

    is_touch = F.col("event_type").isin(*ATTR_TOUCHES)
    is_purchase = F.col("event_type") == "purchase"
    pos = F.struct("ts", "event_id")
    nxt = ev.select(
        "event_id",
        "event_type",
        "ts",
        "value",
        nxt_of("ts").alias("p_ts"),
        nxt_of("event_id").alias("p_id"),
        nxt_of("value").alias("p_value"),
        F.last(F.when(is_touch, pos), ignorenulls=True)
        .over(w_back)
        .alias("t_pos"),
        F.last(F.when(is_purchase, pos), ignorenulls=True)
        .over(w_back)
        .alias("pp_pos"),
    )
    win = F.expr(f"INTERVAL {ATTR_WINDOW_DAYS} DAYS")
    credited_touch = (
        is_touch
        & F.col("p_id").isNotNull()
        & (F.col("p_ts") <= F.col("ts") + win)
    )
    # a purchase is credited iff its latest preceding touch belongs to
    # it (no purchase in between) and is inside the lookback
    credited_purchase = (
        F.col("t_pos").isNotNull()
        & (F.col("pp_pos").isNull() | (F.col("t_pos") > F.col("pp_pos")))
        & (F.col("ts") <= F.col("t_pos")["ts"] + win)
    )
    rows = nxt.filter(
        credited_touch | (is_purchase & ~credited_purchase)
    ).select(
        F.when(credited_touch, F.col("event_type"))
        .otherwise(F.lit("direct"))
        .alias("channel"),
        F.when(credited_touch, F.col("p_id"))
        .otherwise(F.col("event_id"))
        .alias("key"),
        F.when(credited_touch, F.col("p_value"))
        .otherwise(F.col("value"))
        .alias("val"),
        "ts",
        "event_id",
    )
    kw = Window.partitionBy("key")
    rn_w = kw.orderBy("ts", "event_id")
    dec = "decimal(28,10)"
    n = F.count("*").over(kw)
    rn = F.row_number().over(rn_w)
    w_rest = F.round(F.lit(1.0) / n, 10)
    wv_rest = F.round(F.col("val") / n, 10)
    n_dec = (n - F.lit(1)).cast("decimal(7,0)")
    weighted = rows.select(
        "channel",
        F.when(
            rn == 1,
            F.lit(1).cast(dec) - n_dec * w_rest.cast("decimal(12,10)"),
        )
        .otherwise(w_rest.cast(dec))
        .alias("w"),
        F.when(
            rn == 1,
            F.round(F.col("val"), 10).cast(dec)
            - n_dec * wv_rest.cast("decimal(22,10)"),
        )
        .otherwise(wv_rest.cast(dec))
        .alias("wv"),
    )
    return weighted.groupBy("channel").agg(
        F.round(F.sum("w"), 4)
        .cast("double")
        .alias("attributed_purchases"),
        F.round(F.sum("wv"), 2)
        .cast("double")
        .alias("attributed_value"),
    )
