"""Similarity-stack queries: V6 recommendation scoring (+T4) and V2
TF-IDF content similarity — the two headline endpoints VERDICT r1 flagged
as missing (reference api.py:1013-1056 `/recommend`, api.py:719-731
`content_clustering`).

Both stay LONG-form end to end (no user×channel pivot — SURVEY §7: A13
must never materialize wide at 100 TB): every similarity matrix here
(V1/V3/V4 types, V2 languages, V6 recommendations) comes from the one
postings operator operators/cooccur.py:postings_cosine, scores are one
more groupBy, and every join's small side is broadcast.

Float parity: sums of a handful of doubles can differ across engines in
summation order; outputs are rounded (2dp scores / 6dp cosines) with
deterministic tie-break keys, same contract as queries/vector.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from holochatstats_spark.functions.core import log_dampen, round_half_up
from holochatstats_spark.operators.cooccur import postings_cosine
from holochatstats_spark.queries import register
from holochatstats_spark.queries.textops import _STOP_SQL, _TOKS_DUCK, _with_tokens
from holochatstats_spark.tables import load_table

PARTICIPATION_EXCLUSION_THRESHOLD = 3  # reference api.py:930
VOCAB_SIZE = 500  # reference TfidfVectorizer(max_features=500), api.py:722


def _user_type_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user postings ``ms: array<struct<event_type, cnt>>`` — each
    event_type is a vector over users, weight = the user's event count."""
    w = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.expr("CAST(count(*) AS DOUBLE) AS cnt"))
    )
    return w.groupBy("user_id").agg(F.expr("collect_list(struct(event_type, cnt)) AS ms"))


# ---------------------------------------------------------------------------
# V6 + T4 — recommendation scoring (api.py:1013-1056): for every user,
# score each channel as the sum of its cosine similarity to the user's
# channels; exclude channels where the user's weight exceeds the
# participation threshold; log-dampen normalize against ideal = number of
# user channels; top-10 per user.
# ---------------------------------------------------------------------------
@register(
    "recommend_topk",
    oracle=f"""
    WITH w AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS DOUBLE) AS cnt
      FROM events GROUP BY 1, 2
    ), norms AS (
      SELECT event_type, sqrt(SUM(cnt * cnt)) AS nrm FROM w GROUP BY 1
    ), dots AS (
      SELECT w1.event_type AS type_a, w2.event_type AS type_b,
             SUM(w1.cnt * w2.cnt) AS dot
      FROM w w1 JOIN w w2 USING (user_id)
      GROUP BY 1, 2
    ), sims AS (
      SELECT d.type_a, d.type_b, d.dot / NULLIF(na.nrm * nb.nrm, 0) AS sim
      FROM dots d
      JOIN norms na ON na.event_type = d.type_a
      JOIN norms nb ON nb.event_type = d.type_b
    ), nuc AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_ch FROM w GROUP BY 1
    ), scores AS (
      SELECT u.user_id, s.type_b AS channel, SUM(s.sim) AS raw_score
      FROM w u JOIN sims s ON s.type_a = u.event_type
      GROUP BY 1, 2
    ), filtered AS (
      SELECT sc.user_id, sc.channel, sc.raw_score
      FROM scores sc
      LEFT JOIN w ON w.user_id = sc.user_id AND w.event_type = sc.channel
      WHERE COALESCE(w.cnt, 0) <= {PARTICIPATION_EXCLUSION_THRESHOLD}
    ), ranked AS (
      SELECT f.user_id, f.channel, f.raw_score, n.n_ch,
             ROW_NUMBER() OVER (PARTITION BY f.user_id
                                ORDER BY f.raw_score DESC, f.channel ASC) AS rn
      FROM filtered f JOIN nuc n USING (user_id)
    )
    SELECT user_id, channel,
           FLOOR((ln(1 + raw_score * 100.0 / NULLIF(CAST(n_ch AS DOUBLE), 0))
                  / ln(1 + 100.0) * 100.0) * 100 + 0.5) / 100 AS score
    FROM ranked
    WHERE rn <= 10
    ORDER BY user_id, channel
    """,
    survey="V6,T4,F10,V1",
    tags=("bench",),
)
def recommend_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exercises F10 log_dampen (functions/core.py:log_dampen) at data
    scale — per-user postings drive everything, a per-user window for
    top-10.

    The per-user postings are consumed exactly twice, through one shared
    aggregated subtree (identical exchanges, reused at runtime): once by
    postings_cosine for the full type×type matrix (upper=False: both
    directions plus the diagonal — exactly the oracle's w1⋈w2-on-user_id
    pair set), once re-exploded to score. The per-user channel count and
    own-participation map ride on the scoring rows, so no meta join is
    needed and the participation-exclusion filter runs before the score
    aggregation. That filter commutes with the groupBy: its predicate is
    a pure function of (user_id, channel), constant across each group, so
    it drops whole groups, never individual addends.
    """
    peruser = _user_type_postings(spark, sf_dir)
    sims = postings_cosine(peruser, "event_type", "cnt", upper=False)
    exploded = peruser.selectExpr(
        "user_id",
        "CAST(size(ms) AS BIGINT) AS n_ch",
        "map_from_entries(ms) AS own_cnt",
        "explode(ms) AS a",
    )
    # null-safe join key: a plain `=` would infer isnotnull(event_type)
    # and push it below the postings aggregation, splitting the two
    # consumers' subtrees so the runtime stage reuse is lost; event_type
    # is never null, so `<=>` is result-identical
    filtered = (
        exploded.join(F.broadcast(sims), F.expr("a.event_type <=> key_a"))
        .where(
            "coalesce(element_at(own_cnt, key_b), 0.0D)"
            f" <= {PARTICIPATION_EXCLUSION_THRESHOLD}"
        )
        .groupBy("user_id", "n_ch", F.expr("key_b AS channel"))
        .agg(F.expr("sum(sim) AS raw_score"))
    )
    return (
        filtered.withColumn(
            "rn",
            F.expr("row_number() OVER (PARTITION BY user_id ORDER BY raw_score DESC, channel ASC)"),
        )
        .where("rn <= 10")
        .select(
            "user_id",
            "channel",
            round_half_up(
                log_dampen(F.col("raw_score"), F.col("n_ch").cast("double")), 2
            ).alias("score"),
        )
        .orderBy("user_id", "channel")
    )


# ---------------------------------------------------------------------------
# V2 — TF-IDF content similarity (api.py:719-731): per-lang corpus of
# document tokens (uni+bigrams, stopword-filtered), vocab capped at the
# top-500 terms by corpus frequency, idf = ln((1+N)/(1+df)) + 1 (smoothed),
# cosine over the resulting sparse vectors via the V1 long-form self-join.
# The stopwords are textops' deliberately tiny list; the reference uses
# sklearn's 318-word english list (documented divergence, SURVEY §2.9 V2:
# "exact sklearn TF-IDF parity not bit-promised").
# ---------------------------------------------------------------------------
@register(
    "tfidf_lang_similarity",
    oracle=f"""
    WITH toks AS (
      SELECT lang, {_TOKS_DUCK} AS t FROM documents
    ), grams AS (
      SELECT lang, unnest(t) AS term FROM toks
      UNION ALL
      SELECT lang, unnest(CASE WHEN len(t) >= 2 THEN
               [t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]
             ELSE [] END) AS term
      FROM toks
    ), clean AS (
      SELECT lang, term FROM grams
      WHERE term <> '' AND term NOT IN ({_STOP_SQL})
    ), tf AS (
      SELECT lang, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM clean GROUP BY 1, 2
    ), vocab AS (
      SELECT term, SUM(tf) AS total, COUNT(*) AS df
      FROM tf GROUP BY term
      ORDER BY total DESC, term ASC
      LIMIT {VOCAB_SIZE}
    ), n_docs AS (
      SELECT CAST(COUNT(DISTINCT lang) AS DOUBLE) AS n FROM tf
    ), wts AS (
      SELECT tf.lang, tf.term,
             tf.tf * (ln((1 + n.n) / (1 + CAST(v.df AS DOUBLE))) + 1) AS wt
      FROM tf JOIN vocab v USING (term) CROSS JOIN n_docs n
    ), norms AS (
      SELECT lang, sqrt(SUM(wt * wt)) AS nrm FROM wts GROUP BY lang
    ), dots AS (
      SELECT a.lang AS lang_a, b.lang AS lang_b, SUM(a.wt * b.wt) AS dot
      FROM wts a JOIN wts b ON a.term = b.term AND a.lang < b.lang
      GROUP BY 1, 2
    )
    SELECT d.lang_a, d.lang_b,
           ROUND(d.dot / NULLIF(na.nrm * nb.nrm, 0), 6) AS tfidf_cosine
    FROM dots d
    JOIN norms na ON na.lang = d.lang_a
    JOIN norms nb ON nb.lang = d.lang_b
    ORDER BY d.lang_a, d.lang_b
    """,
    survey="V2,A14,V1",
    tags=("bench",),
)
def tfidf_lang_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocab selection is orderBy().limit() — TakeOrdered over the term
    stats, never a global sort.

    The token lineage is built exactly once: each term's (lang, tf)
    postings ride along the term-stats aggregate as a collect_list, the
    500-term vocab keeps them through the TakeOrdered cap, and
    postings_cosine over the idf-weighted term postings yields dots and
    norms together. The 6dp round absorbs summation-order drift, the same
    cross-engine contract as every cosine here.
    """
    docs = _with_tokens(load_table(spark, sf_dir, "documents"))
    # uni+bigrams in one explode, so documents is scanned once
    grams = (
        "concat(toks, CASE WHEN size(toks) >= 2 THEN "
        "transform(sequence(0, size(toks) - 2), i -> concat_ws(' ', toks[i], toks[i+1])) "
        "ELSE array() END)"
    )
    clean = docs.selectExpr("lang", f"explode({grams}) AS term").where(
        f"term != '' AND NOT (term IN ({_STOP_SQL}))"
    )
    tf = clean.groupBy("lang", "term").agg(F.expr("CAST(count(*) AS DOUBLE) AS tf"))
    vocab = (
        tf.groupBy("term")
        .agg(
            F.expr("sum(tf) AS total"),
            F.expr("count(*) AS df"),
            F.expr("collect_list(struct(lang, tf)) AS postings"),
        )
        .orderBy(F.desc("total"), F.asc("term"))
        .limit(VOCAB_SIZE)
    )
    n_docs = tf.agg(F.expr("CAST(count(DISTINCT lang) AS DOUBLE) AS n"))
    idf = "ln((n + 1.0D) / (CAST(df AS DOUBLE) + 1.0D)) + 1.0D"
    weighted = vocab.crossJoin(F.broadcast(n_docs)).selectExpr(
        f"transform(postings, m -> struct(m.lang AS lang, m.tf * ({idf}) AS wt)) AS ms"
    )
    return (
        postings_cosine(weighted, "lang", "wt")
        .selectExpr("key_a AS lang_a", "key_b AS lang_b", "round(sim, 6) AS tfidf_cosine")
        .orderBy("lang_a", "lang_b")
    )


# ---------------------------------------------------------------------------
# V3 — percentile edge thresholding (api.py:471-476: np.percentile over the
# similarity matrix, keep edges above it). Discrete element selection (the
# value at rank floor((n-1)*p)+1), same contract as price_percentiles.
# The ranking window is unpartitioned BUT bounded: its input is the K×K
# similarity matrix (K = #channels ≈ 80 in the reference), which does not
# grow with message volume — the data-sized work happened upstream in the
# V1 self-join.
# ---------------------------------------------------------------------------
_SIMS_SQL = """
      SELECT w1.event_type AS type_a, w2.event_type AS type_b,
             ROUND(SUM(w1.cnt * w2.cnt)
                   / NULLIF(MAX(na.nrm) * MAX(nb.nrm), 0), 6) AS cosine_sim
      FROM w w1
      JOIN w w2 ON w1.user_id = w2.user_id AND w1.event_type < w2.event_type
      JOIN norms na ON na.event_type = w1.event_type
      JOIN norms nb ON nb.event_type = w2.event_type
      GROUP BY 1, 2
"""


@register(
    "similarity_edges",
    oracle=f"""
    WITH w AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS DOUBLE) AS cnt
      FROM events GROUP BY 1, 2
    ), norms AS (
      SELECT event_type, sqrt(SUM(cnt * cnt)) AS nrm FROM w GROUP BY 1
    ), sims AS ({_SIMS_SQL}
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY cosine_sim, type_a, type_b) AS rn,
             COUNT(*) OVER () AS n
      FROM sims
    ), thr AS (
      SELECT cosine_sim AS t FROM ranked
      WHERE rn = CAST(FLOOR((n - 1) * 0.5) + 1 AS BIGINT)
    )
    SELECT s.type_a, s.type_b, s.cosine_sim
    FROM sims s, thr
    WHERE s.cosine_sim >= thr.t
    ORDER BY s.type_a, s.type_b
    """,
    survey="V3,V1",
)
def similarity_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    sims = _type_sims(spark, sf_dir)
    return (
        _threshold_edges(sims)
        .select("type_a", "type_b", "cosine_sim")
        .orderBy("type_a", "type_b")
    )


def _threshold_edges(sims: DataFrame) -> DataFrame:
    """V3 median-threshold edge selection shared by similarity_edges and
    channel_clustering — ONE definition of the discrete-percentile contract
    (rank floor((n-1)*0.5)+1 over (cosine, type_a, type_b)). The ranking
    window is unpartitioned but bounded (K×K similarity rows)."""
    from pyspark.sql import Window

    ranked = sims.withColumn(
        "rn",
        F.row_number().over(Window.orderBy("cosine_sim", "type_a", "type_b")),
    ).withColumn("n", F.count("*").over(Window.partitionBy()))
    thr = ranked.where(
        F.col("rn") == (F.floor((F.col("n") - 1) * 0.5) + 1).cast("bigint")
    ).select(F.col("cosine_sim").alias("t"))
    return sims.crossJoin(F.broadcast(thr)).where(F.col("cosine_sim") >= F.col("t"))


def _type_sims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine over event-type user vectors (V1 long form, a<b
    triangle, 6dp) — type_cosine_similarity's rows, and the input of the
    V3 edge threshold and V4 clustering."""
    sims = postings_cosine(_user_type_postings(spark, sf_dir), "event_type", "cnt")
    return sims.select(
        F.col("key_a").alias("type_a"),
        F.col("key_b").alias("type_b"),
        F.round("sim", 6).alias("cosine_sim"),
    )


# ---------------------------------------------------------------------------
# V4 — channel clustering (api.py:418-487: V1 similarity → V3 threshold →
# Leiden). Distributed up to the edge list; the graph partition runs on
# the collected edge list (operators/graph.py: deterministic greedy
# modularity). Rows-only: community detection is fenced from the hash
# oracle (SURVEY §5).
# ---------------------------------------------------------------------------
@register(
    "channel_clustering",
    oracle=None,
    survey="V4,V3,V1,A13",
)
def channel_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    from holochatstats_spark.operators.graph import detect_communities

    sims = _type_sims(spark, sf_dir)
    edges = (
        _threshold_edges(sims)
        .select(
            F.col("type_a").alias("src"),
            F.col("type_b").alias("dst"),
            F.col("cosine_sim").alias("weight"),
        )
    )
    # full vertex set: below-threshold channels still get a singleton
    # community (reference adds every vertex before partitioning)
    nodes = load_table(spark, sf_dir, "events").select("event_type").distinct()
    return detect_communities(edges, nodes_df=nodes).orderBy("node")
