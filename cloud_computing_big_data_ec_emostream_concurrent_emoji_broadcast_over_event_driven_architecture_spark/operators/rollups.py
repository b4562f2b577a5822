"""Multi-dimensional rollups and ordered-window analytics (SURVEY.md §2.3
note, §2.4, Phase 3).

The reference has none of these (its stats dashboard is a flat per-type
rollup) — but grouping sets / cube / rollup over event types × time, running
totals and moving averages are the natural extension of a stats dashboard,
and all are stock Spark + stock DuckDB.

Float determinism note: running/windowed sums are sequential in frame order
in both engines, so outputs are bit-identical; grouped sums are rounded in
both forms to absorb partial-aggregation order differences.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..plans.registry import register


@register(
    "q_cube_lineitem",
    tags=("rollup", "agg"),
    oracle="""
        SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
               ROUND(SUM(l_quantity), 2) AS sum_qty
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_cube_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all 2^2 grouping combinations in
    one pass (Catalyst expands to a single Expand + aggregate)."""
    return (
        table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


@register(
    "q_rollup_orders",
    tags=("rollup", "agg"),
    oracle="""
        SELECT o_orderpriority, o_orderstatus, COUNT(*) AS cnt,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,10))), 2)
                    AS DOUBLE) AS revenue
        FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
)
def q_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (priority, status): hierarchical subtotals + grand
    total."""
    return (
        table(spark, sf_dir, "orders")
        .rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("cnt"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(28,10)")), 2
            )
            .cast("double")
            .alias("revenue"),
        )
    )


@register(
    "q_grouping_sets",
    tags=("rollup", "agg", "sql"),
    oracle="""
        SELECT event_type, user_id, COUNT(*) AS cnt
        FROM events
        GROUP BY GROUPING SETS ((event_type), (user_id))
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — per-type totals and per-user totals in one
    aggregation pass (SQL API; same Catalyst plan as cube/rollup)."""
    ev = table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("__eng_events_gs")
    return spark.sql(
        """
        SELECT event_type, user_id, COUNT(*) AS cnt
        FROM __eng_events_gs
        GROUP BY GROUPING SETS ((event_type), (user_id))
        """
    )


@register(
    "q_running_total",
    tags=("window",),
    oracle="""
        SELECT o_orderkey,
               ROUND(SUM(o_totalprice) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ), 2) AS running_spend
        FROM orders
    """,
)
def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running spend — the batch twin of the gateway's global
    running message counter (reference api_server.py:16-17,35-36), keyed
    and deterministic via (o_orderdate, o_orderkey) ordering."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
        )
    )


@register(
    "q_moving_avg",
    tags=("window",),
    oracle="""
        SELECT event_id,
               ROUND(AVG(value) OVER (
                   PARTITION BY user_id
                   ORDER BY ts, event_id
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW
               ), 6) AS mavg_10
        FROM events
    """,
)
def q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-row moving average of event value per user (SURVEY.md §2.4 frame
    specs)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, Window.currentRow)
    )
    return (
        table(spark, sf_dir, "events")
        .select(
            "event_id",
            F.round(F.avg("value").over(w), 6).alias("mavg_10"),
        )
    )


@register(
    "q_lag_lead_delta",
    tags=("window",),
    oracle="""
        SELECT event_id,
               CAST(floor(epoch(ts)) AS BIGINT)
                 - CAST(floor(epoch(lag(ts) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ))) AS BIGINT) AS gap_sec
        FROM events
    """,
)
def q_lag_lead_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap per user via lag() — the primitive under
    sessionization."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.unix_timestamp(F.col("ts").cast("timestamp"))
    return (
        table(spark, sf_dir, "events")
        .select(
            "event_id",
            (sec - F.unix_timestamp(F.lag("ts").over(w).cast("timestamp"))).alias(
                "gap_sec"
            ),
        )
    )


@register(
    "q_sessionize",
    tags=("window", "session"),
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                             - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT)
                             > 1800
                          OR lag(ts) OVER w IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT user_id, COUNT(*) AS n_events,
               CAST(SUM(new_session) AS BIGINT) AS n_sessions
        FROM flagged GROUP BY 1
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: a >30 min gap starts a new session (lag +
    flag-sum — SURVEY.md guide pattern)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.unix_timestamp(F.col("ts").cast("timestamp"))
    prev_sec = F.unix_timestamp(F.lag("ts").over(w).cast("timestamp"))
    flagged = table(spark, sf_dir, "events").withColumn(
        "new_session",
        F.when(prev_sec.isNull() | ((sec - prev_sec) > 1800), 1).otherwise(0),
    )
    return flagged.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum("new_session").alias("n_sessions"),
    )


@register(
    "q_rank_functions",
    tags=("window", "rank"),
    oracle="""
        WITH m AS (
            SELECT event_type, date_trunc('minute', ts) AS minute,
                   COUNT(*) AS cnt
            FROM events GROUP BY 1, 2
        )
        SELECT event_type, minute, cnt,
               ntile(4)       OVER w AS quartile,
               ROUND(percent_rank() OVER w, 6) AS pct_rank,
               first_value(cnt) OVER w AS first_cnt,
               last_value(cnt)  OVER (PARTITION BY event_type ORDER BY minute
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND UNBOUNDED FOLLOWING) AS last_cnt
        FROM m
        WINDOW w AS (PARTITION BY event_type ORDER BY minute)
    """,
)
def q_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ranking/analytic window-function surface in one pass: ntile,
    percent_rank, first/last value over the per-minute count series. One
    shuffle on the partition key serves all four functions (same window
    spec → one Window physical operator)."""
    ev = table(spark, sf_dir, "events")
    m = ev.groupBy(
        "event_type", F.date_trunc("minute", "ts").alias("minute")
    ).agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("event_type").orderBy("minute")
    w_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return m.select(
        "event_type",
        "minute",
        "cnt",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.first("cnt").over(w).alias("first_cnt"),
        F.last("cnt").over(w_all).alias("last_cnt"),
    )


@register(
    "q_grouping_id",
    tags=("rollup", "agg", "sql"),
    oracle="""
        SELECT o_orderpriority, o_orderstatus,
               GROUPING(o_orderpriority) AS g_pri,
               GROUPING(o_orderstatus) AS g_st,
               COUNT(*) AS cnt
        FROM orders
        GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
)
def q_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING() flags: distinguishes a subtotal row's NULL
    from a genuine NULL key — the disambiguation every BI layer on top of
    rollups needs. Same single Expand+aggregate plan as the plain
    rollup."""
    return (
        table(spark, sf_dir, "orders")
        .rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.grouping("o_orderpriority").alias("g_pri"),
            F.grouping("o_orderstatus").alias("g_st"),
            F.count("*").alias("cnt"),
        )
        .select(
            "o_orderpriority", "o_orderstatus", "g_pri", "g_st", "cnt"
        )
    )


@register(
    "q_conditional_agg",
    tags=("agg", "conditional"),
    oracle="""
        SELECT l_returnflag,
               COUNT(*) AS n_rows,
               COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
               ROUND(SUM(l_quantity) FILTER (WHERE l_tax > 0.04), 2)
                   AS qty_high_tax,
               ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,10)))
                              FILTER (WHERE l_discount = 0) AS DOUBLE)
                     / NULLIF(COUNT(*) FILTER (WHERE l_discount = 0), 0), 6)
                   AS avg_full_price,
               ROUND(100.0 * COUNT(*) FILTER (WHERE l_discount > 0.05)
                     / COUNT(*), 6) AS pct_discounted
        FROM lineitem GROUP BY 1
    """,
)
def q_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (SQL FILTER-clause surface): per return
    flag, counts/sums/averages restricted to row predicates — the
    pivot-less form of segmented metrics, one scan + one aggregate instead
    of one query per segment. Spark expresses FILTER as when()-wrapped
    aggregates; nulls from the unmatched branch drop out of count/sum/avg,
    which is exactly FILTER's semantics. avg over the predicate uses the
    decimal-sum/count form (cross-engine float-drift hardening, see
    q_tpch_q1)."""
    li = table(spark, sf_dir, "lineitem")
    discounted = F.col("l_discount") > 0.05
    full_price = F.col("l_discount") == 0
    full_sum = F.sum(
        F.when(full_price, F.col("l_extendedprice").cast("decimal(28,10)"))
    ).cast("double")
    full_cnt = F.count(F.when(full_price, F.lit(1)))
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.count(F.when(discounted, F.lit(1))).alias("n_discounted"),
        F.round(
            F.sum(F.when(F.col("l_tax") > 0.04, F.col("l_quantity"))), 2
        ).alias("qty_high_tax"),
        F.round(full_sum / F.nullif(full_cnt, F.lit(0)), 6).alias(
            "avg_full_price"
        ),
        F.round(
            100.0 * F.count(F.when(discounted, F.lit(1))) / F.count("*"), 6
        ).alias("pct_discounted"),
    )


@register(
    "q_cooccurrence_lift",
    tags=("agg", "join", "stats"),
    oracle="""
        WITH cells AS (
            SELECT DISTINCT user_id,
                   date_trunc('minute', ts) AS minute, event_type
            FROM events
        ), singles AS (
            SELECT event_type, COUNT(*) AS cnt FROM cells GROUP BY 1
        ), tot AS (
            SELECT COUNT(DISTINCT (user_id, minute)) AS n FROM cells
        )
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(COUNT(*) AS BIGINT) AS pair_cnt,
               ROUND(COUNT(*) * 1.0 * MAX(tot.n)
                     / (MAX(sa.cnt) * MAX(sb.cnt)), 6) AS lift
        FROM cells a
        JOIN cells b ON a.user_id = b.user_id AND a.minute = b.minute
                    AND a.event_type < b.event_type
        JOIN singles sa ON sa.event_type = a.event_type
        JOIN singles sb ON sb.event_type = b.event_type
        CROSS JOIN tot
        GROUP BY 1, 2
    """,
)
def q_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CO-OCCURRENCE LIFT (market-basket over time cells): which event
    types appear together in the same (user, minute) more often than
    independence predicts — lift = P(a,b) / (P(a)·P(b)) over the
    distinct user-minute baskets.  Lift > 1 flags coupled behaviors
    (click→purchase), < 1 mutually exclusive ones.

    Plan: baskets are deduped FIRST (distinct (user, minute, type) — at
    most |types| rows per basket survive), the pair self-join keys on
    the (user, minute) basket id so its output is bounded by
    baskets × C(|types|,2) — never events² — and the marginals join as
    a |types|-row broadcast with the basket total as a 1-row broadcast.
    The only data-sized shuffle is the initial distinct."""
    ev = table(spark, sf_dir, "events")
    # ROUND-11 (guide §1.2/§2.4): the previous form derived the distinct
    # (user, minute, type) cell table FIVE times (marginals, basket
    # total, both self-join sides — audit rescan=5) and paid a
    # basket-keyed self-join. ONE aggregation now collects each basket's
    # type SET (bounded by |types|), and pairs/marginals/total all read
    # the basket table: pairs are an in-array double explode (i < j over
    # the sorted set — exactly the old a.type < b.type join condition),
    # so the only data-sized exchange is the single basket groupBy, and
    # the three consumers share it (ReusedExchange). Counts are
    # unchanged: each basket contributes 1 to every type it contains and
    # to every unordered type pair, as before.
    baskets = ev.groupBy(
        "user_id", F.date_trunc("minute", F.col("ts")).alias("minute")
    ).agg(F.sort_array(F.collect_set("event_type")).alias("tset"))
    tot = baskets.agg(F.count("*").alias("n"))
    # j >= i: the DIAGONAL (t, t) row's count is exactly the number of
    # baskets containing t — the marginal — so the per-type counts are
    # recovered by two windows over the ≤|types|² aggregated rows (the
    # q_audience_overlap diagonal trick) instead of two more basket
    # derivations joined back on.
    pairs_all = (
        baskets.select(F.posexplode("tset").alias("i", "type_a"), "tset")
        .select(
            "type_a",
            F.explode(
                F.slice("tset", F.col("i") + F.lit(1), F.size("tset"))
            ).alias("type_b"),
        )
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("pair_cnt"))
    )
    diag = F.when(F.col("type_a") == F.col("type_b"), F.col("pair_cnt"))
    enriched = (
        pairs_all.withColumn(
            "cnt_a", F.max(diag).over(Window.partitionBy("type_a"))
        )
        .withColumn(
            "cnt_b", F.max(diag).over(Window.partitionBy("type_b"))
        )
        .filter(F.col("type_a") < F.col("type_b"))
    )
    return enriched.crossJoin(F.broadcast(tot)).select(
        "type_a",
        "type_b",
        "pair_cnt",
        F.round(
            F.col("pair_cnt") * F.col("n")
            / (F.col("cnt_a") * F.col("cnt_b")),
            6,
        ).alias("lift"),
    )


@register(
    "q_window_rank_suite",
    tags=("window", "sql-surface"),
    oracle="""
        WITH per_user AS (
            SELECT event_type, user_id,
                   CAST(ROUND(SUM(CAST(value AS DECIMAL(28,10))), 2)
                        AS DOUBLE) AS total_value
            FROM events GROUP BY 1, 2
        )
        SELECT event_type, user_id, total_value,
               RANK() OVER w AS rnk,
               DENSE_RANK() OVER w AS dense_rnk,
               ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
               ROUND(CUME_DIST() OVER w, 6) AS cume,
               NTILE(4) OVER w AS quartile
        FROM per_user
        WINDOW w AS (PARTITION BY event_type
                     ORDER BY total_value DESC, user_id)
        QUALIFY RANK() OVER w <= 50
    """,
)
def q_window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full RANKING-FUNCTION surface in one query — rank,
    dense_rank, percent_rank, cume_dist, ntile(4) over per-type user
    leaderboards (top-50 per type via a rank predicate). Ordering keys
    are (decimal-exact total, user_id), so ranks are deterministic and
    every rank function agrees bit-for-bit across engines —
    percent_rank/cume_dist are pure rational arithmetic over those
    ranks.

    Plan: one user-keyed aggregation (partial combines), then one
    window over the per-(type,user) relation — |users|·|types| rows,
    not event rows; the rank≤50 predicate prunes output driver-side
    work but the window itself is the one inherent per-type sort."""
    per_user = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", "user_id")
        .agg(
            F.round(F.sum(F.col("value").cast("decimal(28,10)")), 2)
            .cast("double")
            .alias("total_value")
        )
    )
    w = Window.partitionBy("event_type").orderBy(
        F.desc("total_value"), F.asc("user_id")
    )
    return (
        per_user.select(
            "event_type",
            "user_id",
            "total_value",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("dense_rnk"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
            F.ntile(4).over(w).alias("quartile"),
        )
        .filter(F.col("rnk") <= 50)
    )


@register(
    "q_share_of_total",
    tags=("agg", "window", "olap"),
    oracle="""
        WITH m AS (
            SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
                       AS month,
                   o_orderpriority AS priority,
                   SUM(CAST(o_totalprice AS DECIMAL(28,10))) AS srev
            FROM orders
            GROUP BY 1, 2
        )
        SELECT month, priority,
               CAST(ROUND(srev, 2) AS DOUBLE) AS revenue,
               ROUND(CAST(srev AS DOUBLE)
                     / CAST(SUM(srev) OVER (PARTITION BY month)
                            AS DOUBLE), 6) AS month_share,
               ROUND(CAST(srev AS DOUBLE)
                     / CAST(SUM(srev) OVER () AS DOUBLE), 6)
                   AS total_share
        FROM m
    """,
)
def q_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RATIO-TO-REPORT: each (month, priority) cell's revenue as a share
    of its month and of the grand total — the contribution window every
    OLAP dashboard stacks into 100% bars.

    Plan: the fact shuffles once into the (month, priority) aggregate;
    both share windows run over that cell-sized table (per-month
    partitions plus one global frame over |cells| rows — the global
    window is safe BECAUSE it is over the aggregate, never the fact).
    The window sums accumulate the decimal(28,10) partials (exact,
    order-independent — window-summing the rounded DOUBLES would drift
    with partition order), and only the final division happens in
    double on bit-identical inputs."""
    od = table(spark, sf_dir, "orders")
    cells = od.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month"),
        F.col("o_orderpriority").alias("priority"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(28,10)")).alias("srev")
    )
    w_month = Window.partitionBy("month")
    w_all = Window.partitionBy()
    srev_d = F.col("srev").cast("double")
    return cells.select(
        "month",
        "priority",
        F.round(F.col("srev"), 2).cast("double").alias("revenue"),
        F.round(
            srev_d / F.sum("srev").over(w_month).cast("double"), 6
        ).alias("month_share"),
        F.round(
            srev_d / F.sum("srev").over(w_all).cast("double"), 6
        ).alias("total_share"),
    )


@register(
    "q_period_over_period",
    tags=("agg", "window", "olap"),
    oracle="""
        WITH m AS (
            SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
                       AS month,
                   o_orderpriority AS priority,
                   SUM(CAST(o_totalprice AS DECIMAL(28,10))) AS srev,
                   CAST(COUNT(*) AS BIGINT) AS n_orders
            FROM orders
            GROUP BY 1, 2
        )
        SELECT month, priority,
               CAST(ROUND(srev, 2) AS DOUBLE) AS revenue,
               n_orders,
               ROUND(CASE WHEN lag(srev) OVER w IS NOT NULL
                          THEN (CAST(srev AS DOUBLE)
                                - CAST(lag(srev) OVER w AS DOUBLE))
                               / CAST(lag(srev) OVER w AS DOUBLE)
                     END, 6) AS rev_mom_pct,
               n_orders - lag(n_orders) OVER w AS orders_mom_delta
        FROM m
        WINDOW w AS (PARTITION BY priority ORDER BY month)
    """,
)
def q_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERIOD-OVER-PERIOD growth: month-over-month revenue percentage
    change and order-count delta per priority — the growth companion to
    ``q_share_of_total``'s contribution view.

    Plan: one fact aggregation to (month, priority) cells; the lag
    window partitions by priority and sees |months| rows per partition.
    The MoM division happens on the exact decimal partials cast to
    double (never on pre-rounded values), so both engines divide
    bit-identical numbers; first months yield NULL pct (no prior
    period) in both engines identically."""
    od = table(spark, sf_dir, "orders")
    cells = od.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month"),
        F.col("o_orderpriority").alias("priority"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(28,10)")).alias("srev"),
        F.count("*").cast("bigint").alias("n_orders"),
    )
    w = Window.partitionBy("priority").orderBy("month")
    prev = F.lag("srev").over(w)
    return cells.select(
        "month",
        "priority",
        F.round(F.col("srev"), 2).cast("double").alias("revenue"),
        "n_orders",
        F.round(
            F.when(
                prev.isNotNull(),
                (F.col("srev").cast("double") - prev.cast("double"))
                / prev.cast("double"),
            ),
            6,
        ).alias("rev_mom_pct"),
        (F.col("n_orders") - F.lag("n_orders").over(w)).alias(
            "orders_mom_delta"
        ),
    )


_RR_WORD_BITS = 63  # bitmap word width for the re-aggregable distinct


@register(
    "q_rollup_reaggregate",
    tags=("rollup", "mv", "sketch", "scale"),
    oracle=f"""
        SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(28,10))), 4) AS DOUBLE)
                   AS sum_value,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users
        FROM events
        GROUP BY 1
    """,
)
def q_rollup_reaggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIERARCHICAL ROLLUP RE-AGGREGATION (the continuous-aggregate /
    hypertable-downsample algebra): daily totals computed FROM hourly
    partials, never from raw events — including the hard case, EXACT
    distinct users, which is not naively re-aggregable (a sum of hourly
    distincts double-counts) and is carried instead as per-hour BITMAP
    WORDS whose OR-merge is associative. The ORACLE recomputes the same
    day rows directly from raw events, so the hash match proves
    hierarchy ≡ direct — the invariant that lets a warehouse serve day
    queries from hour partials and hour queries from minute partials
    without ever rescanning the fact table.

    Plan: one pass builds the hour-grain count/sum partials, one pass
    builds the hour-grain distinct partials ((hour, word_id) bitmap
    words via sign-safe pmod keying, at most |users|/{_RR_WORD_BITS}
    words per hour); the day rollup then merges calendar-sized partial
    tables — count/sum by re-summing (decimal-exact, order-free), the
    bitmaps by bit_or then one popcount sum. At 100 TB the raw scan
    happens exactly twice (or once, if the partials are stored MVs —
    this operator IS their refresh algebra); every exchange above the
    partials moves partial rows, not events."""
    ev = table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    hour = F.date_trunc("hour", F.col("ts"))
    hourly = ev.groupBy(day.alias("day"), hour.alias("hour")).agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("value").cast("decimal(28,10)")).alias("sval"),
    )
    daily = hourly.groupBy("day").agg(
        F.sum("cnt").alias("n_events"),
        F.round(F.sum("sval"), 4).cast("double").alias("sum_value"),
    )
    words_hour = (
        ev.select(
            day.alias("day"),
            hour.alias("hour"),
            F.expr(
                f"(user_id - pmod(user_id, {_RR_WORD_BITS}))"
                f" div {_RR_WORD_BITS}"
            ).alias("word_id"),
            F.expr(
                f"shiftleft(1L, CAST(pmod(user_id, {_RR_WORD_BITS})"
                " AS INT))"
            ).alias("bit"),
        )
        .groupBy("day", "hour", "word_id")
        .agg(F.bit_or("bit").alias("word"))
    )
    words_day = words_hour.groupBy("day", "word_id").agg(
        F.bit_or("word").alias("word")
    )
    dist_day = words_day.groupBy("day").agg(
        F.sum(F.bit_count("word")).cast("bigint").alias("distinct_users")
    )
    return daily.join(dist_day, "day").select(
        "day", "n_events", "sum_value", "distinct_users"
    )


@register(
    "q_window_value_suite",
    tags=("window", "frames"),
    oracle="""
        WITH seq AS (
            SELECT user_id, event_id, event_type, ts,
                   FIRST_VALUE(event_type) OVER w AS first_type,
                   LAST_VALUE(event_type) OVER w AS last_type,
                   NTH_VALUE(event_type, 3) OVER w AS third_type,
                   FIRST_VALUE(ts) OVER w AS first_ts,
                   LAST_VALUE(ts) OVER w AS last_ts,
                   COUNT(*) OVER (PARTITION BY user_id) AS n_events
            FROM events
            WINDOW w AS (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING
                         AND UNBOUNDED FOLLOWING
            )
        )
        SELECT user_id, n_events, first_type, last_type, third_type,
               CAST(date_diff('second', first_ts, last_ts) AS BIGINT)
                   AS span_sec
        FROM seq
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY ts, event_id) = 1
    """,
)
def q_window_value_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINDOW VALUE-FUNCTION SUITE: first_value / last_value /
    nth_value over an explicit unbounded ROWS frame — the journey
    summary (entry event, exit event, third touch, active span) every
    session-replay tool computes, and the frame-semantics trap the
    suite exists to pin: last_value over the DEFAULT frame (… AND
    CURRENT ROW) returns the current row, so the unbounded frame is
    spelled out identically in both engines.

    Plan: one user-partitioned window pass (ordered by (ts, event_id) —
    the unique tie-break every ordered window in the registry carries),
    then one row kept per user. At 100 TB this is a single user-keyed
    exchange; the alternative min_by/max_by aggregation form
    (``q_minute_ohlc``) is the groupBy twin — this operator exists
    precisely to exercise the frame-clause surface."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    ev = table(spark, sf_dir, "events")
    seq = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w).alias("last_type"),
        F.nth_value("event_type", 3).over(w).alias("third_type"),
        F.first("ts").over(w).alias("first_ts"),
        F.last("ts").over(w).alias("last_ts"),
        F.count("*")
        .over(Window.partitionBy("user_id"))
        .alias("n_events"),
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("rn"),
    )
    return seq.filter(F.col("rn") == 1).select(
        "user_id",
        "n_events",
        "first_type",
        "last_type",
        "third_type",
        (
            F.unix_timestamp(F.col("last_ts").cast("timestamp"))
            - F.unix_timestamp(F.col("first_ts").cast("timestamp"))
        ).alias("span_sec"),
    )


@register(
    "q_concurrent_orders",
    tags=("timeseries", "window", "sweepline", "scale"),
    oracle="""
        WITH spans AS (
            SELECT o.o_orderkey, o.o_orderdate,
                   s.ship_day
            FROM orders o
            JOIN (SELECT l_orderkey, MAX(l_shipdate) AS ship_day
                  FROM lineitem GROUP BY 1) s
              ON s.l_orderkey = o.o_orderkey
            WHERE s.ship_day > o.o_orderdate
        ),
        days AS (
            SELECT DISTINCT day FROM (
                SELECT o_orderdate AS day FROM spans
                UNION ALL SELECT ship_day FROM spans
            )
        )
        SELECT d.day,
               CAST(COUNT(s.o_orderkey) AS BIGINT) AS n_open
        FROM days d
        LEFT JOIN spans s
          ON s.o_orderdate <= d.day AND d.day < s.ship_day
        GROUP BY 1
    """,
)
def q_concurrent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONCURRENT-INTERVAL COUNT by SWEEP-LINE: how many orders are
    simultaneously in flight (placed, not yet fully shipped) on every
    day the count changes — the open-tickets / active-sessions /
    in-flight-jobs timeline.

    The plan is the O(n log n) EVENT DECOMPOSITION: each order emits
    +1 at its order date and −1 at its last ship date, deltas rollup to
    one row per distinct day, and a running sum over the day-ordered
    delta table reads off the concurrency — the ORACLE is the naive
    quadratic form (every day interval-joined against every span), so
    the hash match PROVES sweep-line ≡ interval-join. At 100 TB the
    naive form is days×orders and dies; the sweep-line's only
    data-sized work is the per-order span aggregation (orderkey-keyed,
    co-partitioned with the orders join), after which the delta table
    and its running-sum window are calendar-sized."""
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    ship = (
        table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(F.max("l_shipdate").alias("ship_day"))
    )
    # the synthetic fixture contains INVERTED spans (last ship date on
    # or before the order date — no open time under the half-open
    # predicate); a naive sweep would emit their −1 BEFORE their +1 and
    # corrupt every count in between, so zero/negative-length intervals
    # are excluded identically in both engines
    spans = orders.join(ship, "o_orderkey").filter(
        F.col("ship_day") > F.col("o_orderdate")
    )
    # ROUND-11 (guide §2.4): the +1/−1 event streams used to be a
    # two-sided union, replaying the orders⋈per-order-ship join (the
    # only data-sized work here) once per side; the explode emits both
    # endpoint deltas from ONE derivation of the span table.
    deltas = (
        spans.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("o_orderdate").alias("day"),
                        F.lit(1).alias("delta"),
                    ),
                    F.struct(
                        F.col("ship_day").alias("day"),
                        F.lit(-1).alias("delta"),
                    ),
                )
            ).alias("e")
        )
        .select("e.day", "e.delta")
        .groupBy("day")
        .agg(F.sum("delta").alias("d"))
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return deltas.select(
        "day", F.sum("d").over(w).cast("bigint").alias("n_open")
    )
