"""Set-overlap queries: J6 pairwise overlap, J7 overlap matrix, J4 exclusives.

The reference computes these with Python set ops on collected id lists
(api.py:1471-1504, 1556-1615) — single-node and O(N) driver memory. Here
the sets stay distributed: distinct → join → count, and the N×N matrix is
ONE self-join + one groupBy (one shuffle for all pairs), per SURVEY §2.6 J7.

At 100 TB the (key, user) distinct sets would be bucketed by user_id so the
self-join is co-located; with ~5 group keys the matrix agg output is tiny
regardless of input scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from holochatstats_spark.functions.core import pct_round
from holochatstats_spark.queries import register
from holochatstats_spark.tables import load_table


# ---------------------------------------------------------------------------
# J6 — pairwise overlap with both-direction percentages (reference
# get_common_users api.py:1471-1504).
# ---------------------------------------------------------------------------
@register(
    "common_users",
    oracle="""
    WITH a AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
         b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
         x AS (SELECT COUNT(*) AS n_common FROM a JOIN b USING (user_id))
    SELECT x.n_common,
           CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS n_a,
           CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS n_b,
           FLOOR((x.n_common * 100.0 / NULLIF(CAST((SELECT COUNT(*) FROM a) AS DOUBLE), 0)) * 100 + 0.5) / 100 AS pct_of_a,
           FLOOR((x.n_common * 100.0 / NULLIF(CAST((SELECT COUNT(*) FROM b) AS DOUBLE), 0)) * 100 + 0.5) / 100 AS pct_of_b
    FROM x
    """,
    survey="J6,2.8",
)
def common_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE plan, one scan: per-user membership flags from a single
    conditional agg, then a scalar agg — replaces the r1 version's three
    .count() actions + driver-side createDataFrame (VERDICT r1)."""
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.where(F.col("event_type").isin("click", "purchase"))
        .groupBy("user_id")
        .agg(
            F.max((F.col("event_type") == "click").cast("int")).alias("in_a"),
            F.max((F.col("event_type") == "purchase").cast("int")).alias("in_b"),
        )
    )
    # coalesce: a scalar SUM over zero rows is NULL in Spark, but the
    # oracle's COUNT(*) subqueries (and the reference) yield 0 on empty
    # input — match that
    counts = per_user.agg(
        F.coalesce(F.sum(F.col("in_a") * F.col("in_b")), F.lit(0))
        .cast("bigint")
        .alias("n_common"),
        F.coalesce(F.sum("in_a"), F.lit(0)).cast("bigint").alias("n_a"),
        F.coalesce(F.sum("in_b"), F.lit(0)).cast("bigint").alias("n_b"),
    )
    return counts.select(
        "n_common",
        "n_a",
        "n_b",
        pct_round(F.col("n_common"), F.col("n_a")).alias("pct_of_a"),
        pct_round(F.col("n_common"), F.col("n_b")).alias("pct_of_b"),
    )


def _type_set():
    """Per-user distinct ``event_type`` array, NULL included (as the twins'
    DISTINCT / GROUP BY keep it): ``collect_set`` skips NULL values but not
    a struct holding one."""
    return F.collect_set(F.struct("event_type"))["event_type"].alias("types")


# ---------------------------------------------------------------------------
# J7 — N×N overlap matrix as one self-join (reference builds it with N²
# Python set intersections, api.py:1556-1615).
# ---------------------------------------------------------------------------
@register(
    "overlap_matrix",
    oracle="""
    WITH membership AS (
      SELECT DISTINCT event_type, user_id FROM events
    ), sizes AS (
      SELECT event_type, COUNT(*) AS n FROM membership GROUP BY event_type
    ), pairs AS (
      SELECT m1.event_type AS type_a, m2.event_type AS type_b, COUNT(*) AS n_common
      FROM membership m1 JOIN membership m2 USING (user_id)
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, p.n_common,
           FLOOR((p.n_common * 100.0 / NULLIF(CAST(s.n AS DOUBLE), 0)) * 100 + 0.5) / 100 AS pct_of_a
    FROM pairs p JOIN sizes s ON s.event_type = p.type_a
    ORDER BY p.type_a, p.type_b
    """,
    survey="J7,A8",
    tags=("bench",),
)
def overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairs from each user's type set — no self-join. Per-user fanout
    is bounded by #types² (25), same as the r20 m⋈m join.

    r20 referenced the distinct (type, user) membership three ways (join
    sides + sizes): 24 Exchange / 3 FileScan nodes. Now one
    collect_set per user, double-explode for every ordered (type_a,
    type_b) pair including the diagonal — and the diagonal count IS
    |members(type_a)|, so the sizes table is the matrix's own diagonal
    instead of a second aggregate over the membership lineage. Same
    counts, unchanged DuckDB twin. Guide §2.4/§1.2.
    """
    ev = load_table(spark, sf_dir, "events")
    # type_b keeps a NULL type, type_a does not: the twin's sizes join
    # (s.event_type = p.type_a) drops NULL type_a rows
    per_user = ev.groupBy("user_id").agg(
        F.collect_set("event_type").alias("types_a"), _type_set()
    )
    from pyspark.sql import Window

    pairs = (
        per_user.select(F.col("types"), F.explode("types_a").alias("type_a"))
        .select(F.col("type_a"), F.explode("types").alias("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_common"))
    )
    # |members(type_a)| is the matrix diagonal — attach it with a window
    # over the tiny K×K frame instead of a second lineage + broadcast join
    n_a = F.max(
        F.when(F.col("type_a") == F.col("type_b"), F.col("n_common"))
    ).over(Window.partitionBy("type_a"))
    return (
        pairs.select(
            "type_a",
            "type_b",
            "n_common",
            pct_round(F.col("n_common"), n_a).alias("pct_of_a"),
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# J4/A8 — exclusive users: users whose activity is confined to one key
# (reference get_exclusive_chat_users api.py:2176-2251, implemented clean —
# the reference's MV-column bug is documented in SURVEY §2.6 J4).
# ---------------------------------------------------------------------------
@register(
    "exclusive_users",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MIN(event_type) AS only_type,
             COUNT(DISTINCT event_type) AS n_types
      FROM events GROUP BY user_id
    ), exclusives AS (
      SELECT only_type AS event_type, COUNT(*) AS n_exclusive
      FROM per_user WHERE n_types = 1 GROUP BY only_type
    ), totals AS (
      SELECT event_type, COUNT(DISTINCT user_id) AS n_total FROM events GROUP BY event_type
    )
    SELECT t.event_type,
           CAST(COALESCE(e.n_exclusive, 0) AS BIGINT) AS n_exclusive,
           CAST(t.n_total AS BIGINT) AS n_total,
           FLOOR((COALESCE(e.n_exclusive, 0) * 100.0 / NULLIF(CAST(t.n_total AS DOUBLE), 0)) * 100 + 0.5) / 100 AS pct_exclusive
    FROM totals t LEFT JOIN exclusives e ON e.event_type = t.event_type
    ORDER BY t.event_type
    """,
    survey="J4,A8",
)
def exclusive_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r22: the r21 `exclusive_group_users` single-pass pattern applied to
    the plain variant — it still derived the events lineage twice
    (per-user types + totals) and joined the two aggregates back. ONE
    per-user `collect_set` explode carries an is_exclusive (size == 1)
    flag, so both counts come from the same groupBy: each exploded row is
    one distinct (user, type) membership, so rows-per-type = the oracle's
    COUNT(DISTINCT user_id) totals, and a type absent from `exclusives`
    gets the conditional count's 0 — exactly the LEFT JOIN's
    COALESCE(n_exclusive, 0) (a singleton user's only type always appears
    in totals, so the join never invented rows). Plan: 2 FileScans + a
    join → 1 FileScan, no join. Guide §1.2/§2.4.
    """
    ev = load_table(spark, sf_dir, "events")
    # exclusive = one non-NULL type, as the twin's MIN and COUNT(DISTINCT)
    # see it (both skip NULL); the NULL type's row gets n_exclusive 0, as
    # its LEFT JOIN does
    sets = ev.groupBy("user_id").agg(
        (F.min("event_type") == F.max("event_type")).alias("is_exclusive"),
        _type_set(),
    )
    exploded = sets.select("is_exclusive", F.explode("types").alias("event_type"))
    counts = exploded.groupBy("event_type").agg(
        F.count(F.when(F.col("is_exclusive") & F.col("event_type").isNotNull(), 1))
        .cast("bigint")
        .alias("n_exclusive"),
        F.count("*").cast("bigint").alias("n_total"),
    )
    return counts.select(
        "event_type",
        "n_exclusive",
        "n_total",
        pct_round(F.col("n_exclusive"), F.col("n_total")).alias("pct_exclusive"),
    ).orderBy("event_type")
