"""Growth-accounting operators: the DAU-decomposition family every
product/activation dashboard is built from.

The reference keeps only instantaneous per-type counters (reference
analytical_server.py:15-18); these operators answer the longitudinal
questions the same event stream supports once it lands in a warehouse:
where did today's active users come from (new / retained / resurrected,
with churn as the balancing flow), how habitual is usage
(DAU/WAU stickiness), and how concentrated is engagement across the
user base (the power-user curve).

Scale shape shared by all three: everything derives from the distinct
(user_id, day) ACTIVITY CELLS — one exact aggregation whose output is
bounded by |users| × |days in span|, after which every operator is
window/rollup work over cells or user-sized tables, never over raw
events again. That is the 100 TB contract: the fact table is scanned
once, and the single data-sized shuffle is the cell dedup (keyed on
user_id, so the per-user windows reuse the same partitioning without a
second exchange).

Determinism rules follow the registry conventions: integer flows count
exactly (no doubles until the final rounded ratio), per-user windows
order by ``day`` (unique per user after the dedup), and day arithmetic
uses date_add / date_diff forms both engines evaluate identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caches import session_memo
from ..catalog import table
from ..plans.registry import register


def _activity_cells(ev: DataFrame) -> DataFrame:
    """Distinct (user_id, day) activity cells — the shared base."""
    return ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()


@session_memo("growth_activity_cells")
def _cached_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized persisted activity cells (one dedup of the fact
    table per session+fixture, shared by every growth operator — the
    same idiom as the similarity module's session index)."""
    return _activity_cells(table(spark, sf_dir, "events")).persist()


@register(
    "q_growth_accounting",
    headline=True,
    tags=("growth", "window", "agg", "scale"),
    oracle="""
        WITH cells AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        ),
        maxd AS (SELECT MAX(day) AS max_day FROM cells),
        seq AS (
            SELECT user_id, day,
                   LAG(day) OVER (PARTITION BY user_id ORDER BY day)
                       AS prev_day,
                   LEAD(day) OVER (PARTITION BY user_id ORDER BY day)
                       AS next_day
            FROM cells
        ),
        flows AS (
            SELECT day,
                   CASE WHEN prev_day IS NULL THEN 'new'
                        WHEN date_diff('day', prev_day, day) = 1
                            THEN 'retained'
                        ELSE 'resurrected' END AS flow
            FROM seq
            UNION ALL
            SELECT day + 1 AS day, 'churned' AS flow
            FROM seq, maxd
            WHERE (next_day IS NULL OR date_diff('day', day, next_day) > 1)
              AND day + 1 <= maxd.max_day
        )
        SELECT day,
               CAST(COUNT(*) FILTER (WHERE flow = 'new') AS BIGINT)
                   AS n_new,
               CAST(COUNT(*) FILTER (WHERE flow = 'retained') AS BIGINT)
                   AS n_retained,
               CAST(COUNT(*) FILTER (WHERE flow = 'resurrected') AS BIGINT)
                   AS n_resurrected,
               CAST(COUNT(*) FILTER (WHERE flow = 'churned') AS BIGINT)
                   AS n_churned
        FROM flows
        GROUP BY 1
    """,
)
def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROWTH ACCOUNTING (DAU decomposition): every (user, active day)
    is classified as NEW (first day ever), RETAINED (also active
    yesterday), or RESURRECTED (returning after a gap), and each lapse
    emits a CHURNED flow on the first inactive day — the additive
    identity ``DAU(d) = new + retained + resurrected`` and
    ``churned(d) = DAU(d-1) - retained(d)`` that growth teams audit
    every morning.

    Plan: one distinct over (user, day) cells, then a single
    user-partitioned window supplies BOTH lag (classification) and lead
    (churn emission) in one pass — churn needs no self-join against a
    shifted copy of activity, the lead already knows the next active
    day. The flows union is cell-sized and the final rollup is
    day-sized. At 100 TB: one data-sized shuffle (cell dedup on
    user_id), windows reuse that partitioning, day rollup is a
    calendar-sized aggregate. The max-day cap (no churn row past the
    observed span) is a 1-row broadcast."""
    return growth_accounting_from_cells(_cached_cells(spark, sf_dir))


def growth_accounting_from_cells(cells: DataFrame) -> DataFrame:
    """Growth flows from an arbitrary distinct (user_id, day) cell
    table — factored out so property tests can drive it with synthetic
    activity patterns (hypothesis model check in
    tests/test_properties.py).

    ROUND-10 OPTIMIZATION (guide §2.4 — remove shuffles outright): the
    original form unioned two branches that each re-derived the same
    lag/lead window, so the physical plan shuffled + sorted + windowed
    the cell table TWICE (2× Exchange/Sort/Window; see
    plans/r10/q_growth_accounting_before.txt). Each cell row now emits
    its classification flow and (conditionally) its churn flow from ONE
    window pass via an array explode — flow rows are identical by
    construction (same predicates, same values, union order never
    mattered because the next step is a day-keyed aggregate). At 100 TB
    this halves the only data-sized shuffle in the query."""
    w = Window.partitionBy("user_id").orderBy("day")
    seq = cells.select(
        "user_id",
        "day",
        F.lag("day").over(w).alias("prev_day"),
        F.lead("day").over(w).alias("next_day"),
    )
    max_day = cells.agg(F.max("day").alias("max_day"))
    flow = (
        F.when(F.col("prev_day").isNull(), F.lit("new"))
        .when(F.datediff("day", "prev_day") == 1, F.lit("retained"))
        .otherwise(F.lit("resurrected"))
    )
    churn_emit = (
        F.col("next_day").isNull()
        | (F.datediff("next_day", "day") > 1)
    ) & (F.date_add("day", 1) <= F.col("max_day"))
    emitted = F.concat(
        F.array(F.struct(F.col("day").alias("day"), flow.alias("flow"))),
        F.when(
            churn_emit,
            F.array(
                F.struct(
                    F.date_add("day", 1).alias("day"),
                    F.lit("churned").alias("flow"),
                )
            ),
        ).otherwise(F.array().cast("array<struct<day:date,flow:string>>")),
    )
    flows = (
        seq.crossJoin(F.broadcast(max_day))
        .select(F.explode(emitted).alias("e"))
        .select(F.col("e.day").alias("day"), F.col("e.flow").alias("flow"))
    )
    return (
        flows
        .groupBy("day")
        .agg(
            F.count(F.when(F.col("flow") == "new", 1)).alias("n_new"),
            F.count(F.when(F.col("flow") == "retained", 1)).alias(
                "n_retained"
            ),
            F.count(F.when(F.col("flow") == "resurrected", 1)).alias(
                "n_resurrected"
            ),
            F.count(F.when(F.col("flow") == "churned", 1)).alias(
                "n_churned"
            ),
        )
    )


STICKINESS_WINDOW_DAYS = 7  # trailing window for the WAU denominator


@register(
    "q_stickiness_dau_wau",
    tags=("growth", "window", "distinct", "scale"),
    oracle=f"""
        WITH cells AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        ),
        days AS (SELECT DISTINCT day FROM cells),
        grid AS (
            SELECT d.day, d.day - CAST(u.off AS INTEGER) AS src_day
            FROM days d,
                 UNNEST(range(0, {STICKINESS_WINDOW_DAYS})) AS u(off)
        ),
        wau AS (
            SELECT g.day,
                   CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS wau
            FROM grid g JOIN cells c ON c.day = g.src_day
            GROUP BY 1
        ),
        dau AS (
            SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM cells
            GROUP BY 1
        )
        SELECT d.day, d.dau, w.wau,
               ROUND(CAST(d.dau AS DOUBLE) / w.wau, 6) AS stickiness
        FROM dau d JOIN wau w USING (day)
    """,
)
def q_stickiness_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STICKINESS (DAU / trailing-{STICKINESS_WINDOW_DAYS}d WAU): the
    habit-formation ratio, exact — no HLL. The WAU rides the
    fan-out decomposition family of ``q_sliding_distinct_24h`` at day
    granularity: dedupe once to (user, day) cells, then fan each cell
    ONLY to the trailing-window endpoints for which it is the user's
    LAST active day (min(gap-to-next-active, {STICKINESS_WINDOW_DAYS})
    endpoints) and COUNT per endpoint — the raw fact table is never
    rescanned per window position, and each user lands exactly once
    per endpoint by construction, so no distinct is needed. Early days
    with a partial trailing window report the ratio over the observed
    span (stated contract, identical in both engines).

    At 100 TB the fan-out multiplies CELLS (bounded by |users|×|days|)
    capped by the activity gap — daily-active users fan 1×, not
    {STICKINESS_WINDOW_DAYS}×; the lead() window over cells is the only
    data-shaped exchange (user-keyed, ~uniform) and the endpoint count
    partial-aggregates map-side — no salting needed."""
    cells = _cached_cells(spark, sf_dir)
    # ROUND-10 OPTIMIZATION (guide §2.3 — aggregate before you shuffle):
    # the old form fanned EVERY cell to all {k} trailing endpoints via a
    # calendar grid join and count-DISTINCT-ed users per endpoint (an
    # Expand + two full exchanges carrying cells×{k} rows). Each user
    # now contributes each endpoint exactly once BY CONSTRUCTION: a cell
    # is the user's LAST active day in the windows ending at
    # day .. day + min(gap_to_next_active, {k}) - 1, so fanning only
    # that span turns the distinct into a plain COUNT (map-side
    # partial-aggregated) and shrinks the fan from {k} per cell to
    # min(gap, {k}) — for daily-active users, 1. Endpoints that are not
    # observed days drop out in the dau inner join, exactly as the
    # grid's days-derived endpoints did.
    k = STICKINESS_WINDOW_DAYS
    nxt = F.lead("day").over(Window.partitionBy("user_id").orderBy("day"))
    span = F.when(nxt.isNull(), F.lit(k)).otherwise(
        F.least(F.datediff(nxt, F.col("day")), F.lit(k))
    )
    spans = cells.select("day", span.alias("span"))
    wau = (
        spans.select(
            "day", F.explode(F.sequence(F.lit(0), F.col("span") - 1)).alias("off")
        )
        .groupBy(F.date_add("day", F.col("off")).alias("day"))
        .agg(F.count("*").alias("wau"))
    )
    dau = cells.groupBy("day").agg(F.count("*").alias("dau"))
    out = dau.join(wau, "day").select(
        "day",
        "dau",
        "wau",
        F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias(
            "stickiness"
        ),
    )
    return out


@register(
    "q_power_user_curve",
    tags=("growth", "histogram", "window"),
    oracle="""
        WITH cells AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        ),
        per_user AS (
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS active_days
            FROM cells GROUP BY 1
        ),
        hist AS (
            SELECT active_days, CAST(COUNT(*) AS BIGINT) AS n_users
            FROM per_user GROUP BY 1
        ),
        tot AS (SELECT SUM(n_users) AS total_users FROM hist)
        SELECT h.active_days, h.n_users,
               CAST(SUM(h.n_users) OVER (
                   ORDER BY h.active_days DESC) AS BIGINT)
                   AS users_at_least,
               ROUND(CAST(SUM(h.n_users) OVER (
                         ORDER BY h.active_days DESC) AS DOUBLE)
                     / t.total_users, 6) AS share_at_least
        FROM hist h CROSS JOIN tot t
    """,
)
def q_power_user_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POWER-USER CURVE (the L28-style engagement histogram): how many
    users were active exactly N days, and — read cumulatively from the
    most-engaged side — how many (and what share) were active AT LEAST
    N days. The curve's shape (smile vs decay) is the standard read on
    whether a product has a habitual core.

    Plan: cells → per-user day counts (shuffle keyed on user_id, the
    same key the dedup already hashed) → a histogram whose cardinality
    is at most |days in span| — the descending cumulative window and
    the total-users scalar broadcast then run over that calendar-sized
    table for free. No window ever touches user-sized data."""
    per_user = (
        _cached_cells(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("active_days"))
    )
    hist = per_user.groupBy("active_days").agg(
        F.count("*").alias("n_users")
    )
    tot = hist.agg(F.sum("n_users").alias("total_users"))
    w = (
        Window.orderBy(F.desc("active_days"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            "active_days",
            "n_users",
            F.sum("n_users").over(w).alias("users_at_least"),
            F.round(
                F.sum("n_users").over(w).cast("double")
                / F.col("total_users"),
                6,
            ).alias("share_at_least"),
        )
    )
