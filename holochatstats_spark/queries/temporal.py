"""Temporal & window-function queries: W1/W2/W4, J2/J3, V11/V12.

events span one month → daily/weekly grain; orders span 1995-2001 →
monthly grain (the reference's native grain, SURVEY.md §2.5-2.6).

Scale note shared by all window queries here: windows are applied AFTER a
groupBy reduced the frame to per-key cardinality, or partitioned by a
high-cardinality key (user_id) — never an unpartitioned window over a fact
table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from holochatstats_spark.functions.core import month_str, pct_round, round2
from holochatstats_spark.queries import register
from holochatstats_spark.tables import load_table


# ---------------------------------------------------------------------------
# W1 — latest-row-per-key dedup with rank-class priority (reference
# membership refresh ROW_NUMBER OVER (PARTITION BY user, channel ORDER BY
# CASE rank-class END, ts DESC), queries.py:138-160).
# ---------------------------------------------------------------------------
@register(
    "latest_event_per_user",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type, ts, value, event_id,
             ROW_NUMBER() OVER (
               PARTITION BY user_id
               ORDER BY CASE event_type
                          WHEN 'purchase' THEN 0
                          WHEN 'signup' THEN 1
                          ELSE 2 END ASC,
                        ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, event_type, strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_seen,
           ROUND(value, 2) AS value
    FROM ranked WHERE rn = 1
    ORDER BY user_id
    """,
    survey="W1",
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    prio = (
        F.when(F.col("event_type") == "purchase", 0)
        .when(F.col("event_type") == "signup", 1)
        .otherwise(2)
    )
    # r22 (guide §2.3): ORDER BY prio ASC, ts DESC, event_id DESC is a
    # total order (event_id unique), and only the winner's columns are
    # kept — so the rn=1 window over the raw events (full per-user sort
    # after the shuffle) is a max_by over struct(-prio, ts, event_id),
    # which partially aggregates map-side before the exchange.
    best = F.max_by(
        F.struct("event_type", "ts", "value"),
        F.struct((-prio).alias("neg_prio"), F.col("ts"), F.col("event_id")),
    )
    return (
        ev.groupBy("user_id")
        .agg(best.alias("best"))
        .select(
            "user_id",
            F.col("best.event_type").alias("event_type"),
            F.date_format("best.ts", "yyyy-MM-dd HH:mm:ss").alias("last_seen"),
            round2(F.col("best.value")).alias("value"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# W2 — LAG transition detection (reference membership gain/loss,
# api.py:1866-1917): per user, count transitions into 'error' from a
# non-error event.
# ---------------------------------------------------------------------------
@register(
    "error_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events
    )
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'error'
                          AND prev_type IS NOT NULL
                          AND prev_type <> 'error' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_error_transitions
    FROM seq
    GROUP BY user_id
    HAVING SUM(CASE WHEN event_type = 'error' AND prev_type IS NOT NULL
                     AND prev_type <> 'error' THEN 1 ELSE 0 END) > 0
    ORDER BY user_id
    """,
    survey="W2,A7",
)
def error_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    is_transition = (
        (F.col("event_type") == "error")
        & F.col("prev_type").isNotNull()
        & (F.col("prev_type") != "error")
    )
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .groupBy("user_id")
        .agg(
            F.sum(is_transition.cast("int")).cast("bigint").alias("n_error_transitions")
        )
        .where(F.col("n_error_transitions") > 0)
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# J2 — month-over-month diff, expressed as LAG over the monthly aggregate
# (the reference does a shifted self-join, api.py:1982-2003; SURVEY.md notes
# lag is the equivalent, cheaper plan — one shuffle instead of two).
# ---------------------------------------------------------------------------
@register(
    "monthly_revenue_diff",
    oracle="""
    WITH monthly AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS month,
             SUM(o_totalprice) AS total
      FROM orders GROUP BY 1
    )
    SELECT month,
           ROUND(total, 2) AS total_price,
           ROUND(total - LAG(total) OVER (ORDER BY month), 2) AS diff_vs_prev
    FROM monthly
    ORDER BY month
    """,
    survey="J2,A4,F8",
    tags=("bench",),
)
def monthly_revenue_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG over the ~80-row monthly aggregate — the unpartitioned window
    never sees the fact table."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(month_str(F.col("o_orderdate")).alias("month")).agg(
        F.sum("o_totalprice").alias("total")
    )
    w = Window.partitionBy().orderBy("month")
    return monthly.select(
        "month",
        round2(F.col("total")).alias("total_price"),
        round2(F.col("total") - F.lag("total").over(w)).alias("diff_vs_prev"),
    ).orderBy("month")


# ---------------------------------------------------------------------------
# W4 — latest-record selection via window max (reference latest-forecast
# scalar subquery api.py:1196-1201, manually decorrelated per SURVEY §4).
# ---------------------------------------------------------------------------
@register(
    "latest_order_per_customer",
    oracle="""
    WITH ranked AS (
      SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders
    )
    SELECT o_custkey, o_orderkey AS last_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS last_order_date,
           ROUND(o_totalprice, 2) AS last_total_price
    FROM ranked WHERE rn = 1
    ORDER BY o_custkey
    """,
    survey="W4,W1",
)
def latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # r22 (guide §2.3): ORDER BY o_orderdate DESC, o_orderkey DESC is a
    # total order (orderkey unique) and only the winner survives — the
    # rn=1 window becomes a map-side-combining max_by over
    # struct(o_orderdate, o_orderkey).
    best = F.max_by(
        F.struct("o_orderkey", "o_orderdate", "o_totalprice"),
        F.struct(F.col("o_orderdate"), F.col("o_orderkey")),
    )
    return (
        o.groupBy("o_custkey")
        .agg(best.alias("best"))
        .select(
            "o_custkey",
            F.col("best.o_orderkey").alias("last_orderkey"),
            F.date_format("best.o_orderdate", "yyyy-MM-dd").alias(
                "last_order_date"
            ),
            round2(F.col("best.o_totalprice")).alias("last_total_price"),
        )
        .orderBy("o_custkey")
    )


# ---------------------------------------------------------------------------
# J3 — period-over-period user churn with CLEAN gain/loss semantics
# (left_anti both directions — the reference's version has a counting bug,
# api.py:2141-2150 vs README.md:30; see SURVEY §2.6 J3).
# ---------------------------------------------------------------------------
@register(
    "user_changes",
    oracle="""
    WITH w1 AS (
      SELECT user_id FROM events
      WHERE date_part('day', ts) BETWEEN 1 AND 7
      GROUP BY user_id HAVING COUNT(*) >= 2
    ), w2 AS (
      SELECT user_id FROM events
      WHERE date_part('day', ts) BETWEEN 8 AND 14
      GROUP BY user_id HAVING COUNT(*) >= 2
    )
    SELECT
      CAST((SELECT COUNT(*) FROM w2 WHERE user_id NOT IN (SELECT user_id FROM w1)) AS BIGINT) AS users_gained,
      CAST((SELECT COUNT(*) FROM w1 WHERE user_id NOT IN (SELECT user_id FROM w2)) AS BIGINT) AS users_lost,
      CAST((SELECT COUNT(*) FROM w1 WHERE user_id IN (SELECT user_id FROM w2)) AS BIGINT) AS users_retained
    """,
    survey="J3,A7",
)
def user_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE plan, one scan: both week slices come from a single conditional
    aggregation keyed by user, then a scalar agg classifies each user as
    gained/lost/retained — replaces the r1 version's three separate
    .count() actions (3× the I/O) flagged in VERDICT r1."""
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.where(F.dayofmonth("ts").between(1, 14))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.dayofmonth("ts") <= 7, 1).otherwise(0)).alias("n1"),
            F.sum(F.when(F.dayofmonth("ts") >= 8, 1).otherwise(0)).alias("n2"),
        )
        .select(
            (F.col("n1") >= 2).alias("in1"),
            (F.col("n2") >= 2).alias("in2"),
        )
    )
    # coalesce: scalar SUM over zero rows is NULL, the oracle yields 0
    return per_user.agg(
        F.coalesce(
            F.sum(F.when(F.col("in2") & ~F.col("in1"), 1).otherwise(0)), F.lit(0)
        )
        .cast("bigint")
        .alias("users_gained"),
        F.coalesce(
            F.sum(F.when(F.col("in1") & ~F.col("in2"), 1).otherwise(0)), F.lit(0)
        )
        .cast("bigint")
        .alias("users_lost"),
        F.coalesce(
            F.sum(F.when(F.col("in1") & F.col("in2"), 1).otherwise(0)), F.lit(0)
        )
        .cast("bigint")
        .alias("users_retained"),
    )


def _month_spine(o: DataFrame) -> DataFrame:
    """(m, o_orderpriority) for every month from the first to the last
    order month × every priority: sequence() over the 1-row min/max
    aggregate, exploded, cross-joined with the tiny priority dim. Both
    sides are broadcastable, so the spine adds no shuffle of the fact
    rows. Shared by monthly_spine_gapfill and forecast's
    monthly_spine_interp."""
    bounds = o.agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("mn"),
        F.date_trunc("month", F.max("o_orderdate")).alias("mx"),
    )
    spine = bounds.select(
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 MONTH"))).alias("m")
    )
    return spine.crossJoin(F.broadcast(o.select("o_orderpriority").distinct()))


# ---------------------------------------------------------------------------
# V11 — time-spine gap fill (reference month reindex + fillna,
# forecaster.py:164-176): full month spine × priority, zero-filled.
# ---------------------------------------------------------------------------
@register(
    "monthly_spine_gapfill",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('month', MIN(o_orderdate)) AS mn,
             date_trunc('month', MAX(o_orderdate)) AS mx
      FROM orders
    ), spine AS (
      SELECT unnest(generate_series(mn, mx, INTERVAL 1 MONTH)) AS m FROM bounds
    ), prios AS (
      SELECT DISTINCT o_orderpriority FROM orders
    ), sums AS (
      SELECT o_orderpriority, date_trunc('month', o_orderdate) AS m,
             SUM(o_totalprice) AS s, COUNT(*) AS n
      FROM orders GROUP BY 1, 2
    )
    SELECT p.o_orderpriority,
           strftime(sp.m, '%Y-%m') AS month,
           ROUND(COALESCE(s.s, 0), 2) AS total_price,
           CAST(COALESCE(s.n, 0) AS BIGINT) AS n_orders
    FROM spine sp
    CROSS JOIN prios p
    LEFT JOIN sums s ON s.o_orderpriority = p.o_orderpriority AND s.m = sp.m
    ORDER BY p.o_orderpriority, month
    """,
    survey="V11,F8,J8",
)
def monthly_spine_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month × priority spine (_month_spine) left-joined to the monthly
    sums — the only shuffle is the monthly aggregate itself."""
    o = load_table(spark, sf_dir, "orders")
    sums = o.groupBy(
        "o_orderpriority", F.date_trunc("month", F.col("o_orderdate")).alias("m")
    ).agg(F.sum("o_totalprice").alias("s"), F.count("*").alias("n"))
    return (
        _month_spine(o)
        .join(sums, ["o_orderpriority", "m"], "left")
        .select(
            "o_orderpriority",
            F.date_format("m", "yyyy-MM").alias("month"),
            round2(F.coalesce(F.col("s"), F.lit(0.0))).alias("total_price"),
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_orders"),
        )
        .orderBy("o_orderpriority", "month")
    )


# ---------------------------------------------------------------------------
# V12 — attrition/retention, de-looped (reference runs one query per month,
# api.py:2429-2454; here one grouped agg over all periods at once).
# ---------------------------------------------------------------------------
@register(
    "weekly_attrition",
    oracle="""
    WITH baseline AS (
      SELECT user_id FROM events
      WHERE date_part('day', ts) BETWEEN 1 AND 7
      GROUP BY user_id
      ORDER BY COUNT(*) DESC, user_id ASC
      LIMIT 50
    ), weekly AS (
      SELECT DISTINCT
             CAST(FLOOR((date_part('day', ts) - 1) / 7) + 1 AS BIGINT) AS week,
             user_id
      FROM events
      WHERE date_part('day', ts) <= 28
    )
    SELECT w.week,
           CAST(COUNT(DISTINCT w.user_id) AS BIGINT) AS n_active,
           ROUND(COUNT(DISTINCT w.user_id) * 100.0 / 50, 2) AS pct_retained
    FROM weekly w
    WHERE w.user_id IN (SELECT user_id FROM baseline) AND w.week >= 2
    GROUP BY w.week
    ORDER BY w.week
    """,
    survey="V12,J5,T2",
)
def weekly_attrition(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    baseline = (
        ev.where(F.dayofmonth("ts").between(1, 7))
        .groupBy("user_id")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("user_id"))
        .limit(50)
        .select("user_id")
    )
    weekly = (
        ev.where(F.dayofmonth("ts") <= 28)
        .select(
            (F.floor((F.dayofmonth("ts") - 1) / 7) + 1).cast("bigint").alias("week"),
            "user_id",
        )
        .distinct()
    )
    return (
        weekly.join(F.broadcast(baseline), "user_id", "left_semi")
        .where(F.col("week") >= 2)
        .groupBy("week")
        .agg(F.countDistinct("user_id").alias("n_active"))
        .select(
            "week",
            "n_active",
            F.round(F.col("n_active") * 100.0 / 50, 2).alias("pct_retained"),
        )
        .orderBy("week")
    )


# ---------------------------------------------------------------------------
# W5-extension — rolling frame spec (the reference uses only default
# window frames, SURVEY §2.5 W5; a real analytics engine needs ROWS
# BETWEEN): 7-row trailing sum/avg of daily revenue per priority.
# ---------------------------------------------------------------------------
@register(
    "rolling_revenue",
    oracle="""
    WITH daily AS (
      SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
             SUM(o_totalprice) AS revenue
      FROM orders GROUP BY 1, 2
    )
    SELECT o_orderpriority, day,
           FLOOR(SUM(revenue) OVER w * 100 + 0.5) / 100 AS rolling_7d_sum,
           FLOOR(AVG(revenue) OVER w * 100 + 0.5) / 100 AS rolling_7d_avg,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_days_in_frame
    FROM daily
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY day
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    ORDER BY o_orderpriority, day
    """,
    survey="W5-ext,A4",
)
def rolling_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from holochatstats_spark.functions.core import round_half_up

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        "o_orderpriority", F.to_date("o_orderdate").alias("day")
    ).agg(F.sum("o_totalprice").alias("revenue"))
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    return daily.select(
        "o_orderpriority",
        "day",
        round_half_up(F.sum("revenue").over(w), 2).alias("rolling_7d_sum"),
        round_half_up(F.avg("revenue").over(w), 2).alias("rolling_7d_avg"),
        F.count("*").over(w).cast("bigint").alias("n_days_in_frame"),
    ).orderBy("o_orderpriority", "day")


# ---------------------------------------------------------------------------
# Sessionization — the classic training-pipeline temporal op (not in the
# reference; first-class here): events split into sessions at >30-minute
# inactivity gaps via LAG + cumulative boundary count, then per-session
# stats. One window pair over (user, ts) — no state, no loops.
# ---------------------------------------------------------------------------
SESSION_GAP_SEC = 1800


@register(
    "user_sessions",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts) // 1000000
                       - lag(epoch_us(ts) // 1000000)
                         OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > {SESSION_GAP_SEC}
                  THEN 1 ELSE 0 END AS new_session,
             event_id
      FROM events
    ), sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(epoch_us(ts) // 1000000)
                - MIN(epoch_us(ts) // 1000000) AS BIGINT) AS duration_sec
    FROM sessions
    GROUP BY 1, 2
    ORDER BY user_id, session_id
    """,
    survey="sessionization,W2-analog",
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    epoch = F.unix_timestamp("ts")
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            epoch - F.lag(epoch).over(w_seq) > SESSION_GAP_SEC, 1
        )
        .otherwise(0)
        .alias("new_session"),
    )
    sessions = marked.select(
        "user_id",
        "ts",
        F.sum("new_session")
        .over(w_seq.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("session_id"),
    )
    return (
        sessions.groupBy("user_id", F.col("session_id").cast("bigint").alias("session_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            (F.max(F.unix_timestamp("ts")) - F.min(F.unix_timestamp("ts")))
            .cast("bigint")
            .alias("duration_sec"),
        )
        .orderBy("user_id", "session_id")
    )
