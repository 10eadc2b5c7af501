"""V1 — cosine similarity over shared postings, long form (SURVEY §2.9).

The one similarity operator the query layer builds on: V1
(type_cosine_similarity), V2 (tfidf_lang_similarity), V3/V4
(similarity_edges, channel_clustering) and V6 (recommend_topk) each hand
it a different postings frame and post-process its (key_a, key_b, sim)
rows. The key×key matrix is never pivoted wide (SURVEY §7: A13 must stay
long at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
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
    pairs = postings.selectExpr("ms", "explode(ms) AS a").selectExpr("a", "explode(ms) AS b")
    if upper:
        pairs = pairs.where(f"a.{key} <= b.{key}")
    d = pairs.groupBy(F.expr(f"a.{key} AS key_a"), F.expr(f"b.{key} AS key_b")).agg(
        F.expr(f"sum(a.{weight} * b.{weight}) AS dot")
    )
    diag = "max(CASE WHEN key_a = key_b THEN dot END)"
    sims = d.withColumn("na", F.expr(f"sqrt({diag} OVER (PARTITION BY key_a))")).withColumn(
        "nb", F.expr(f"sqrt({diag} OVER (PARTITION BY key_b))")
    )
    if upper:
        sims = sims.where("key_a < key_b")
    return sims.selectExpr("key_a", "key_b", "dot / nullif(na * nb, 0.0D) AS sim")
