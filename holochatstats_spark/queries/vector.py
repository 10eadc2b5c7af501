"""Vector/similarity queries: V1 cosine self-join, V3 percentile threshold,
V8 brute-force k-NN, embedding near-dup, label centroids.

Float parity contract with the DuckDB oracle: embeddings are float32 —
both engines widen float→double exactly, products are bit-identical, and
only the summation order can differ (error ~1e-15 over 64 terms), so every
similarity is rounded to 6dp and ORDER BY uses the ROUNDED value with a
unique tie-break key.

Scale notes: the brute-force k-NN broadcasts the (tiny) query side and is
a single scan + TakeOrdered — the right baseline at any corpus size that
fits a scan budget; the LSH-bucketed variant (operators/ann.py, exercised
by queries/neardup.py:embedding_neardup_lsh) is the 100 TB path. The V1
similarity (operators/cooccur.py:postings_cosine) stays LONG — it never
pivots to a user×key matrix, unlike the reference's pandas pivot
api.py:462-467.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from holochatstats_spark.operators.percentiles import exact_discrete_percentiles
from holochatstats_spark.queries import register
from holochatstats_spark.tables import load_table


def dot_sql(a: str, b: str) -> str:
    """Sequential left-to-right double fold of a·b (deterministic order),
    as SQL text over the array columns ``a`` and ``b``."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " 0.0D, (acc, v) -> acc + v)"
    )


def dot_expr(a: str, b: str) -> F.Column:
    """:func:`dot_sql` as a Column."""
    return F.expr(dot_sql(a, b))


# ---------------------------------------------------------------------------
# V8 — brute-force cosine k-NN (reference pgvector `<=>` search,
# api.py:3037-3066; similarity = 1 − distance, api.py:3086).
# ---------------------------------------------------------------------------
@register(
    "knn_cosine",
    oracle="""
    WITH q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ), scored AS (
      SELECT e.vec_id, e.label,
             ROUND(
               list_dot_product(e.embedding::DOUBLE[], q.qv)
               / NULLIF(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                        * sqrt(list_dot_product(q.qv, q.qv)), 0),
               6) AS cosine_sim
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> 0
    )
    SELECT vec_id, label, cosine_sim
    FROM scored
    ORDER BY cosine_sim DESC, vec_id ASC
    LIMIT 10
    """,
    survey="V8,T3",
    tags=("bench",),
)
def knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    scored = (
        emb.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(
                dot_expr("embedding", "qv")
                / F.nullif(
                    F.sqrt(dot_expr("embedding", "embedding"))
                    * F.sqrt(dot_expr("qv", "qv")),
                    F.lit(0.0),
                ),
                6,
            ).alias("cosine_sim"),
        )
    )
    return scored.orderBy(F.desc("cosine_sim"), F.asc("vec_id")).limit(10)


# ---------------------------------------------------------------------------
# V1 — pairwise cosine over co-occurrence vectors, long-form self-join
# (reference channel clustering pivot+sklearn, api.py:451-468): each
# event_type is a vector over users (weight = event count).
# ---------------------------------------------------------------------------
@register(
    "type_cosine_similarity",
    oracle="""
    WITH w AS (
      SELECT event_type, user_id, CAST(COUNT(*) AS DOUBLE) AS cnt
      FROM events GROUP BY 1, 2
    ), norms AS (
      SELECT event_type, sqrt(SUM(cnt * cnt)) AS nrm FROM w GROUP BY 1
    ), dots AS (
      SELECT w1.event_type AS type_a, w2.event_type AS type_b,
             SUM(w1.cnt * w2.cnt) AS dot
      FROM w w1 JOIN w w2 USING (user_id)
      WHERE w1.event_type < w2.event_type
      GROUP BY 1, 2
    )
    SELECT d.type_a, d.type_b,
           ROUND(d.dot / NULLIF(na.nrm * nb.nrm, 0), 6) AS cosine_sim
    FROM dots d
    JOIN norms na ON na.event_type = d.type_a
    JOIN norms nb ON nb.event_type = d.type_b
    ORDER BY d.type_a, d.type_b
    """,
    survey="V1,A13,J7",
    tags=("bench",),
)
def type_cosine_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The a<b triangle of operators/cooccur.postings_cosine over per-user
    postings (queries/similarity._type_sims), ordered. Never materializes
    the wide user×type matrix (SURVEY §7: A13 must stay long at 100 TB);
    per-user fanout is bounded by #types, same as the oracle's self-join.
    """
    # imported here, not at module top, so similarity's queries keep
    # registering after this module's (load_all_queries returns
    # registration order)
    from holochatstats_spark.queries.similarity import _type_sims

    return _type_sims(spark, sf_dir).orderBy("type_a", "type_b")


# ---------------------------------------------------------------------------
# V3 — percentile thresholds (reference np.percentile edge pruning,
# api.py:471-476). Discrete percentiles (actual elements at
# floor((n-1)*p)) rather than interpolated — interpolation formulas differ
# by ulps across engines; element selection is byte-identical.
# ---------------------------------------------------------------------------
_PCTS = ((0.50, "p50"), (0.90, "p90"), (0.95, "p95"), (0.99, "p99"))


@register(
    "price_percentiles",
    oracle="""
    WITH s AS (
      SELECT o_totalprice AS v,
             ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
             COUNT(*) OVER () AS n
      FROM orders
    )
    SELECT """
    + ",\n           ".join(
        f"MAX(CASE WHEN rn = CAST(FLOOR((n - 1) * {p}) + 1 AS BIGINT) "
        f"THEN v END) AS {name}"
        for p, name in _PCTS
    )
    + "\n    FROM s",
    survey="V3,T6",
)
def price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram bucket selection (operators/percentiles.py) — exact
    discrete elements with NO global sort: the r1 unpartitioned row_number
    window forced the whole table into one partition (VERDICT r1); now no
    stage touches more than one ~n/8192 bucket per window partition and
    the final scan is pruned to the target value ranges."""
    o = load_table(spark, sf_dir, "orders")
    s = o.select(F.col("o_totalprice").alias("v"), "o_orderkey")
    return exact_discrete_percentiles(s, "v", "o_orderkey", _PCTS)


# ---------------------------------------------------------------------------
# Embedding near-duplicate detection, label-blocked baseline: pairs within
# the same label block whose cosine exceeds a threshold. A block is
# all-pairs internally, so this is the SMALL-block variant only; the scale
# path is the LSH-bucketed embedding_neardup_lsh (queries/neardup.py),
# which needs no labels and never goes quadratic within a shuffle key.
# ---------------------------------------------------------------------------
@register(
    "embedding_neardup_pairs",
    oracle="""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
           ROUND(list_dot_product(a.v, b.v) / NULLIF(a.nrm * b.nrm, 0), 6) AS cosine_sim
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v) / NULLIF(a.nrm * b.nrm, 0) > 0.9
    ORDER BY a.label, vec_a, vec_b
    """,
    survey="V1,V8,dedup",
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        "label",
        "embedding",
        F.sqrt(dot_expr("embedding", "embedding")).alias("nrm"),
    )
    a, b = e.alias("a"), e.alias("b")
    sim = dot_expr("a.embedding", "b.embedding") / F.nullif(
        F.col("a.nrm") * F.col("b.nrm"), F.lit(0.0)
    )
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .where(sim > 0.9)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label"),
            F.round(sim, 6).alias("cosine_sim"),
        )
        .orderBy("label", "vec_a", "vec_b")
    )


# ---------------------------------------------------------------------------
# Label centroids: elementwise mean via posexplode (array agg without ever
# collecting vectors to the driver), then intra-vs-global stats.
# ---------------------------------------------------------------------------
@register(
    "label_centroid_stats",
    oracle="""
    WITH flat AS (
      SELECT label,
             generate_subscripts(embedding, 1) AS pos,
             unnest(embedding::DOUBLE[]) AS x
      FROM embeddings
    ), cent AS (
      SELECT label, pos, AVG(x) AS c FROM flat GROUP BY 1, 2
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS dim,
           ROUND(sqrt(SUM(c * c)), 6) AS centroid_norm,
           ROUND(AVG(c), 6) AS mean_component
    FROM cent
    GROUP BY label
    ORDER BY label
    """,
    survey="V1,V7",
)
def label_centroid_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>"))
    ).toDF("label", "pos0", "x")
    cent = flat.groupBy("label", (F.col("pos0") + 1).alias("pos")).agg(
        F.avg("x").alias("c")
    )
    return (
        cent.groupBy("label")
        .agg(
            F.count("*").alias("dim"),
            F.round(F.sqrt(F.sum(F.col("c") * F.col("c"))), 6).alias("centroid_norm"),
            F.round(F.avg("c"), 6).alias("mean_component"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# V8-IVF — inverted-file k-NN, the coarse-quantized scale path for
# similarity search (complements embedding_neardup_lsh): K centroids
# (per-label elementwise means, components rounded to 6dp so both engines
# compute identical assignment dots), every vector assigned to its nearest
# centroid (one broadcast crossJoin against K rows), queries probe only
# the NPROBE nearest buckets — the scan shrinks from N vectors to
# ~N*NPROBE/K. Brute-force knn_cosine stays the exact recall baseline.
# ---------------------------------------------------------------------------
IVF_NPROBE = 2


@register(
    "ivf_knn_cosine",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings
    ), flat AS (
      SELECT label,
             generate_subscripts(embedding, 1) AS pos,
             unnest(embedding::DOUBLE[]) AS x
      FROM embeddings
    ), cent0 AS (
      SELECT label AS bucket, pos, ROUND(AVG(x), 6) AS c
      FROM flat GROUP BY 1, 2
    ), cent AS (
      SELECT bucket, list(c ORDER BY pos) AS cvec FROM cent0 GROUP BY bucket
    ), centn AS (
      SELECT bucket, cvec, sqrt(list_dot_product(cvec, cvec)) AS cnrm FROM cent
    ), assign AS (
      SELECT vec_id, bucket FROM (
        SELECT e.vec_id, c.bucket,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY ROUND(list_dot_product(e.v, c.cvec)
                                / NULLIF(e.nrm * c.cnrm, 0), 6) DESC,
                          c.bucket ASC) AS rn
        FROM e CROSS JOIN centn c
      ) WHERE rn = 1
    ), q AS (
      SELECT v, nrm FROM e WHERE vec_id = 0
    ), probes AS (
      SELECT bucket FROM (
        SELECT c.bucket,
               ROW_NUMBER() OVER (
                 ORDER BY ROUND(list_dot_product(q.v, c.cvec)
                                / NULLIF(q.nrm * c.cnrm, 0), 6) DESC,
                          c.bucket ASC) AS rn
        FROM centn c CROSS JOIN q
      ) WHERE rn <= {IVF_NPROBE}
    )
    SELECT e.vec_id, e.label, a.bucket,
           ROUND(list_dot_product(e.v, q.v) / NULLIF(e.nrm * q.nrm, 0), 6)
             AS cosine_sim
    FROM e
    JOIN assign a USING (vec_id)
    JOIN probes p ON p.bucket = a.bucket
    CROSS JOIN q
    WHERE e.vec_id <> 0
    ORDER BY cosine_sim DESC, e.vec_id ASC
    LIMIT 10
    """,
    survey="V8-IVF,ANN,T3",
)
def ivf_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        "label",
        "embedding",
        F.sqrt(dot_expr("embedding", "embedding")).alias("nrm"),
    )
    flat = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>"))
    ).toDF("label", "pos0", "x")
    cent0 = flat.groupBy(F.col("label").alias("bucket"), "pos0").agg(
        F.round(F.avg("x"), 6).alias("c")
    )
    cent = cent0.groupBy("bucket").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos0", "c"))), lambda s: s.c
        ).alias("cvec")
    )
    centn = cent.withColumn("cnrm", F.sqrt(dot_expr("cvec", "cvec")))

    assign_sim = F.round(
        dot_expr("embedding", "cvec") / F.nullif(F.col("nrm") * F.col("cnrm"), F.lit(0.0)),
        6,
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        assign_sim.desc(), F.col("bucket").asc()
    )
    # the window shuffle already carries the full embedding (the assign
    # similarity needs it), so keep label/embedding/nrm on the surviving
    # rn=1 row instead of re-joining e by vec_id afterwards — one fewer
    # join and one fewer embeddings lineage; vec_id 0 is excluded up
    # front (it only feeds q), which is safe under partitionBy(vec_id)
    assign = (
        e.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(centn))
        .withColumn("rn", F.row_number().over(w_assign))
        .where(F.col("rn") == 1)
        .select("vec_id", "label", "embedding", "nrm", "bucket")
    )
    q = e.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"), F.col("nrm").alias("qnrm")
    )
    probe_sim = F.round(
        dot_expr("qv", "cvec") / F.nullif(F.col("qnrm") * F.col("cnrm"), F.lit(0.0)), 6
    )
    w_probe = Window.orderBy(probe_sim.desc(), F.col("bucket").asc())
    probes = (
        centn.crossJoin(F.broadcast(q))
        .withColumn("rn", F.row_number().over(w_probe))
        .where(F.col("rn") <= IVF_NPROBE)
        .select("bucket")
    )
    sim = F.round(
        dot_expr("embedding", "qv")
        / F.nullif(F.col("nrm") * F.col("qnrm"), F.lit(0.0)),
        6,
    )
    return (
        assign.join(F.broadcast(probes), "bucket")
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", "bucket", sim.alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(10)
    )
