"""Relational core: scans, filters, aggregates, joins, top-k.

Each query re-expresses an operator family from SURVEY.md §2 over the
driver's TPC-H-ish tables. Reference citations are to
mipacd/HoloChatStats paths (see SURVEY.md for the full map).

Scale notes are inline per query; the common ones:
- dimension joins broadcast (J1) — `F.broadcast` is explicit even though
  AQE would pick it up, so the plan is broadcast on a cold CBO too;
- every aggregate is expressed as a single groupBy so Spark's partial
  (map-side) aggregation halves shuffle volume automatically;
- top-k is ORDER BY + LIMIT, which Spark executes as TakeOrderedAndProject
  (per-partition heap, no global sort materialization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from holochatstats_spark.functions.core import (
    day_str,
    pct_round,
    round2,
    round_half_up,
    safe_div,
    time_bucket,
)
from holochatstats_spark.queries import register
from holochatstats_spark.tables import load_table


# ---------------------------------------------------------------------------
# A2/A10/P2 — pricing summary (the classic scan→filter→groupBy shape; the
# reference's monthly language rollup chat_language_stats_mv,
# data_ingestion/db/queries.py:209-223, has exactly this plan shape).
# ---------------------------------------------------------------------------
@register(
    "pricing_summary",
    oracle="""
    SELECT
      l_returnflag, l_linestatus,
      ROUND(SUM(l_quantity), 2)                                        AS sum_qty,
      ROUND(SUM(l_extendedprice), 2)                                   AS sum_base_price,
      ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
      ROUND(AVG(l_quantity), 2)                                        AS avg_qty,
      ROUND(AVG(l_extendedprice), 2)                                   AS avg_price,
      ROUND(AVG(l_discount), 4)                                        AS avg_disc,
      COUNT(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    survey="A2,A10,P2,P7",
    tags=("bench",),
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-scan aggregate; filter + projection push to the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.expr("TIMESTAMP_NTZ'1998-09-02 00:00:00'"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            round2(F.sum("l_quantity")).alias("sum_qty"),
            round2(F.sum("l_extendedprice")).alias("sum_base_price"),
            round2(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("sum_disc_price"),
            round2(F.avg("l_quantity")).alias("avg_qty"),
            round2(F.avg("l_extendedprice")).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# A2/A4/P1/F6 — time-bucketed rollup per type (reference: monthly language
# stats queries.py:209-223 / monthly hours api.py:1158-1167). Events span
# one month, so the grain is daily.
# ---------------------------------------------------------------------------
@register(
    "daily_event_rollup",
    oracle="""
    SELECT
      strftime(ts, '%Y-%m-%d')         AS day,
      event_type,
      COUNT(*)                         AS n_events,
      CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
      ROUND(SUM(value), 2)             AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    survey="A2,A4,P1,F6",
    tags=("bench",),
)
def daily_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One shuffle on (day, type); at scale `day` is the partition column
    so this becomes a partition-local aggregate after pruning."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(day_str(F.col("ts")).alias("day"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            round2(F.sum("value")).alias("total_value"),
        )
        .orderBy("day", "event_type")
    )


# ---------------------------------------------------------------------------
# A5 — engagement ratio-of-aggregates (reference api.py:2878-2899:
# COUNT(DISTINCT user), SUM(msgs), avg = total/users).
# ---------------------------------------------------------------------------
@register(
    "chat_engagement",
    oracle="""
    SELECT
      event_type,
      CAST(COUNT(DISTINCT user_id) AS BIGINT)            AS unique_users,
      COUNT(*)                                           AS total_events,
      ROUND(SUM(value), 2)                               AS total_value,
      FLOOR((COUNT(*) / NULLIF(CAST(COUNT(DISTINCT user_id) AS DOUBLE), 0)) * 100 + 0.5) / 100 AS events_per_user
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    survey="A5,F9",
)
def chat_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("unique_users"),
            F.count("*").alias("total_events"),
            round2(F.sum("value")).alias("total_value"),
            round_half_up(
                safe_div(F.count("*"), F.countDistinct("user_id")), 2
            ).alias("events_per_user"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# A6/T1/J1 — leaderboard: top-10 users by activity, names joined from the
# user dimension (reference get_chat_leaderboard api.py:2026-2072).
# ---------------------------------------------------------------------------
@register(
    "chat_leaderboard",
    oracle="""
    SELECT e.user_id, c.c_name AS username,
           COUNT(*) AS n_events,
           ROUND(SUM(e.value), 2) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY e.user_id, c.c_name
    ORDER BY n_events DESC, e.user_id ASC
    LIMIT 10
    """,
    survey="A6,T1,J1",
    tags=("bench",),
)
def chat_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate BEFORE the join (shrinks the shuffle to #users rows), then
    broadcast the dim. Top-k via TakeOrderedAndProject, never a full sort."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    per_user = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"), round2(F.sum("value")).alias("total_value")
    )
    return (
        per_user.join(F.broadcast(cust), per_user.user_id == cust.c_custkey)
        .select(
            "user_id",
            F.col("c_name").alias("username"),
            "n_events",
            "total_value",
        )
        .orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# A8/W3 — percent-of-total via window over the aggregate (reference
# membership percentage, queries.py:162-174).
# ---------------------------------------------------------------------------
@register(
    "event_type_share",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           FLOOR((COUNT(*) * 100.0 / NULLIF(CAST(SUM(COUNT(*)) OVER () AS DOUBLE), 0)) * 100 + 0.5) / 100 AS pct_of_total
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    survey="A8,W3",
)
def event_type_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unpartitioned window runs over the post-agg frame (#event_types
    rows), not the fact table — single-partition is fine at any scale."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count("*").alias("n_events"))
    w = Window.partitionBy()
    return counts.select(
        "event_type",
        "n_events",
        pct_round(F.col("n_events"), F.sum("n_events").over(w)).alias("pct_of_total"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# A10 — global scalar stats (reference api.py:2615,2647,2672).
# ---------------------------------------------------------------------------
@register(
    "global_stats",
    oracle="""
    SELECT COUNT(*)                                  AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT)   AS n_users,
           ROUND(SUM(value), 2)                      AS total_value,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S')    AS first_ts,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S')    AS last_ts
    FROM events
    """,
    survey="A10",
)
def global_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        round2(F.sum("value")).alias("total_value"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
    )


# ---------------------------------------------------------------------------
# T2/T6 — plain top-k by measure (reference top-1000 users api.py:2408-2423).
# ---------------------------------------------------------------------------
@register(
    "top_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS total_price,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 25
    """,
    survey="T2,T6",
)
def top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            "o_custkey",
            round2(F.col("o_totalprice")).alias("total_price"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        )
        .orderBy(F.desc("total_price"), F.asc("o_orderkey"))
        .limit(25)
    )


# ---------------------------------------------------------------------------
# J1 chain — fact ⋈ fact ⋈ dim with selective filters (TPC-H Q3 shape;
# the reference's every-query channels join, e.g. api.py:453-454).
# ---------------------------------------------------------------------------
@register(
    "shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey ASC
    LIMIT 20
    """,
    survey="J1,A6,T1,P2",
    tags=("bench",),
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer is a broadcastable dim; orders⋈lineitem shuffles on the
    join key. Filters sit on base tables so they push to the scans."""
    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.expr("TIMESTAMP_NTZ'1998-03-15 00:00:00'")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.expr("TIMESTAMP_NTZ'1995-03-15 00:00:00'")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            round2(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# J1 broadcast — lineitem ⋈ part rollup per brand.
# ---------------------------------------------------------------------------
@register(
    "brand_volume",
    oracle="""
    SELECT p.p_brand,
           COUNT(*) AS n_lines,
           ROUND(SUM(l.l_quantity), 2) AS total_qty,
           ROUND(SUM(l.l_extendedprice), 2) AS total_price
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    ORDER BY p.p_brand
    """,
    survey="J1,A2",
)
def brand_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_lines"),
            round2(F.sum("l_quantity")).alias("total_qty"),
            round2(F.sum("l_extendedprice")).alias("total_price"),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# A7 — conditional counts, SUM(CASE WHEN ...) (reference api.py:2141-2146).
# ---------------------------------------------------------------------------
@register(
    "order_status_breakdown",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
           CAST(SUM(CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    survey="A7",
)
def order_status_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
            .cast("bigint")
            .alias("n_finished"),
            F.sum(F.when(F.col("o_totalprice") > 200000, 1).otherwise(0))
            .cast("bigint")
            .alias("n_big"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# J4 — anti join (reference exclusive-users NOT EXISTS, api.py:2228-2235).
# ---------------------------------------------------------------------------
@register(
    "customers_without_orders",
    oracle="""
    SELECT c.c_custkey, c.c_name, c.c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c.c_custkey
    """,
    survey="J4",
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# J5/T2 — semi join against a computed top-k id list (reference attrition
# top-1000 ANY(%s), api.py:2440-2444) — expressed as a broadcast semi join,
# never a collected driver-side list.
# ---------------------------------------------------------------------------
@register(
    "top_user_events",
    oracle="""
    WITH top_users AS (
      SELECT user_id FROM events
      GROUP BY user_id
      ORDER BY COUNT(*) DESC, user_id ASC
      LIMIT 100
    )
    SELECT e.event_type,
           COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM events e
    WHERE e.user_id IN (SELECT user_id FROM top_users)
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
    survey="J5,T2",
)
def top_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    top = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("user_id"))
        .limit(100)
        .select("user_id")
    )
    return (
        ev.join(F.broadcast(top), "user_id", "left_semi")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# A11/T7 — tumbling-bucket argmax (reference funniest-timestamp 30 s humor
# buckets, utils/feature_analysis.py:30-45): per user, the 30-minute bucket
# with the most events.
# ---------------------------------------------------------------------------
@register(
    "busiest_bucket_per_user",
    oracle="""
    WITH buckets AS (
      SELECT user_id,
             CAST(FLOOR(date_part('epoch', ts) / 1800) AS BIGINT) AS bucket,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), ranked AS (
      SELECT user_id, bucket, n,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n DESC, bucket ASC) AS rn
      FROM buckets
    )
    SELECT user_id, bucket AS busiest_bucket, n AS n_events
    FROM ranked WHERE rn = 1
    ORDER BY user_id
    """,
    survey="A11,T7,W1",
)
def busiest_bucket_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy then per-user argmax over the (user, bucket) aggregate —
    the pick is already reduced, so no windowing over raw facts.

    r22 (guide §2.3): the rn=1 window (sort every bucket row inside the
    user partition) only needs the winning (bucket, n), and ORDER BY
    n DESC, bucket ASC is a total order (bucket unique per user after the
    aggregate), so it is a max_by over struct(n, -bucket) — an aggregate
    that combines map-side before the shuffle instead of shipping and
    sorting every bucket row. Same oracle, same rows.
    """
    ev = load_table(spark, sf_dir, "events")
    buckets = ev.groupBy(
        "user_id", time_bucket(F.col("ts"), 1800).alias("bucket")
    ).agg(F.count("*").alias("n"))
    best = F.max_by(
        F.struct(F.col("bucket"), F.col("n")),
        F.struct(F.col("n"), (-F.col("bucket")).alias("neg_bucket")),
    )
    return (
        buckets.groupBy("user_id")
        .agg(best.alias("best"))
        .select(
            "user_id",
            F.col("best.bucket").alias("busiest_bucket"),
            F.col("best.n").alias("n_events"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# A12/T5 — top-N velocity buckets per group (reference chat-burst detection
# ai_summarizer.py:84-144: 15 s buckets, nlargest per video).
# ---------------------------------------------------------------------------
@register(
    "velocity_bursts",
    oracle="""
    WITH buckets AS (
      SELECT event_type,
             CAST(FLOOR(date_part('epoch', ts) / 900) AS BIGINT) AS bucket,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), ranked AS (
      SELECT event_type, bucket, n,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY n DESC, bucket ASC) AS burst_rank
      FROM buckets
    )
    SELECT event_type, bucket, n AS n_events, burst_rank
    FROM ranked WHERE burst_rank <= 3
    ORDER BY event_type, burst_rank
    """,
    survey="A12,T5",
)
def velocity_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    buckets = ev.groupBy(
        "event_type", time_bucket(F.col("ts"), 900).alias("bucket")
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type").orderBy(F.desc("n"), F.asc("bucket"))
    return (
        buckets.withColumn("burst_rank", F.row_number().over(w))
        .where(F.col("burst_rank") <= 3)
        .select(
            "event_type", "bucket", F.col("n").alias("n_events"), "burst_rank"
        )
        .orderBy("event_type", "burst_rank")
    )


# ---------------------------------------------------------------------------
# The 100 TB opt-in variant of the daily rollup (SURVEY §2.4 note): exact
# COUNT(DISTINCT user) is the oracle contract, but at scale the HLL sketch
# is the right default — approx_count_distinct is a fixed-size mergeable
# sketch (no per-key distinct state, pure map-side combine). Rows-only:
# HLL estimates are engine-specific by nature; the exact twin
# (daily_event_rollup) remains the correctness anchor.
# ---------------------------------------------------------------------------
@register(
    "daily_event_rollup_approx",
    oracle=None,
    survey="A5-approx,scale-variant",
)
def daily_event_rollup_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("day", "event_type")
    )


# ---------------------------------------------------------------------------
# A6 + percentile — get_user_info's per-channel rank (api.py:2821-2834:
# "count of users with count <= this user's count / total users x 100",
# computed there with one correlated query per user): decorrelated into a
# single cume_dist window per channel — one shuffle for every user at
# once instead of N queries.
# ---------------------------------------------------------------------------
@register(
    "user_percentile_rank",
    oracle="""
    WITH per_user AS (
      SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, user_id, n_events,
           FLOOR((cume_dist() OVER (PARTITION BY event_type
                                    ORDER BY n_events) * 100)
                 * 100 + 0.5) / 100 AS pct_rank
    FROM per_user
    ORDER BY event_type, user_id
    """,
    survey="A6,T-family,W3-analog",
)
def user_percentile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from holochatstats_spark.functions.core import round_half_up

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.count("*").cast("bigint").alias("n_events")
    )
    # ORDER BY the count alone: cume_dist gives ties identical values =
    # "users with count <= mine / total", the reference's exact formula;
    # a unique tie-break would undercount peers
    w = Window.partitionBy("event_type").orderBy("n_events")
    return per_user.select(
        "event_type",
        "user_id",
        "n_events",
        round_half_up(F.cume_dist().over(w) * 100, 2).alias("pct_rank"),
    ).orderBy("event_type", "user_id")
