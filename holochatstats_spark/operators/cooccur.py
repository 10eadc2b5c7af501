"""V1 — cosine similarity over shared postings, long form (SURVEY §2.9).

The one similarity operator the query layer builds on: V1
(type_cosine_similarity), V2 (tfidf_lang_similarity), V3/V4
(similarity_edges, channel_clustering) and V6 (recommend_topk) each hand
it a different postings frame and post-process its (key_a, key_b, sim)
rows. The key×key matrix is never pivoted wide (SURVEY §7: A13 must stay
long at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def postings_cosine(
    postings: DataFrame, key: str, weight: str, upper: bool = True
) -> DataFrame:
    """Pairwise cosine between keys that share a postings list.

    ``postings`` holds one row per shared dimension (a user, a term) with
    ``ms: array<struct<key, weight>>`` — the weighted keys on that
    dimension. Returns ``(key_a, key_b, sim)``, unrounded. ``upper=True``
    keeps the key_a < key_b triangle; ``upper=False`` keeps the full
    matrix, both directions and the diagonal.

    Every pair comes from a double explode of one list, so per-row fanout
    is bounded by the list length and the postings lineage is consumed
    once. The self-pair (k, k) sums weight², so the matrix diagonal IS the
    squared norm: one aggregate yields dots and norms, and two windows
    over the small K×K result attach them without re-deriving it. A key
    whose weights are all 0 has norm 0 and gets a NULL sim (nullif in the
    denominator), never a division error or NaN.
    """
    pairs = postings.select(F.col("ms"), F.explode("ms").alias("a")).select(
        F.col("a"), F.explode("ms").alias("b")
    )
    if upper:
        pairs = pairs.where(F.col(f"a.{key}") <= F.col(f"b.{key}"))
    d = pairs.groupBy(
        F.col(f"a.{key}").alias("key_a"), F.col(f"b.{key}").alias("key_b")
    ).agg(F.sum(F.col(f"a.{weight}") * F.col(f"b.{weight}")).alias("dot"))
    diag = F.max(F.when(F.col("key_a") == F.col("key_b"), F.col("dot")))
    sims = d.withColumn(
        "na", F.sqrt(diag.over(Window.partitionBy("key_a")))
    ).withColumn("nb", F.sqrt(diag.over(Window.partitionBy("key_b"))))
    if upper:
        sims = sims.where(F.col("key_a") < F.col("key_b"))
    return sims.select(
        "key_a",
        "key_b",
        (F.col("dot") / F.nullif(F.col("na") * F.col("nb"), F.lit(0.0))).alias("sim"),
    )
