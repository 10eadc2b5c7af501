"""Text-analysis & dedup operators over the `documents` table — the
training-data-pipeline surface (exact dedup, MinHash+LSH, SimHash, n-gram
Jaccard, token/quality stats, language heuristic, fingerprints).

Everything here is native Catalyst expressions (split/transform/filter/
aggregate higher-order functions) — the one exception is the SimHash
sign-sum, an Arrow-batched pandas_udf (a per-row computation; see the
SimHash section note). Every hash is the portable 60-bit md5 prefix
(functions/core.py:md5_long) that DuckDB reproduces exactly via
('0x' || substr(md5(x),1,15))::BIGINT, so even the MinHash signatures
hash-match the oracle.

Scale notes:
- shingling explodes ~n_tokens rows per doc; at 100 TB this runs as a
  map-only stage feeding a (doc_id, h) partial min — no wide state;
- LSH banding turns the all-pairs problem into equality joins on
  (band, band_signature): the shuffle key is the bucket, and only bucket
  collisions are verified — the standard MinHash-LSH contract;
- same-language blocking bounds the n-gram Jaccard pair space.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from holochatstats_spark.functions.core import round_half_up
from holochatstats_spark.queries import register
from holochatstats_spark.tables import load_table

# DuckDB twin of _with_tokens' token array (1-based lists).
_TOKS_DUCK = "string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')"

_STOPWORDS = ("the", "a", "and", "of", "to", "in")
_STOP_SQL = ", ".join(f"'{w}'" for w in _STOPWORDS)

N_HASHES = 16
BAND_SIZE = 4  # 4 bands × 4 rows


def _with_tokens(docs: DataFrame) -> DataFrame:
    """Normalized whitespace-token array ``toks``, shared by all queries
    here. The regex is a Column literal: in SQL text it would depend on the
    session's ``spark.sql.parser.escapedStringLiterals``."""
    return docs.withColumn(
        "toks", F.split(F.regexp_replace(F.trim(F.lower("text")), r"\s+", " "), " ")
    )


# ---------------------------------------------------------------------------
# S8/2.8 — exact dedup summary via content hash (reference dropDuplicates
# pre-write, utils/helpers.py:24-36).
# ---------------------------------------------------------------------------
@register(
    "exact_dedup_summary",
    oracle="""
    SELECT COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))) AS BIGINT)
             AS n_unique,
           CAST(COUNT(*) - COUNT(DISTINCT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))) AS BIGINT)
             AS n_dupes
    FROM documents
    """,
    survey="S8,2.8,dedup",
)
def exact_dedup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    norm = F.md5(F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " "))
    return docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(norm).alias("n_unique"),
        (F.count("*") - F.countDistinct(norm)).cast("bigint").alias("n_dupes"),
    )


# ---------------------------------------------------------------------------
# Document fingerprinting: md5 + portable 60-bit integer fingerprint.
# ---------------------------------------------------------------------------
@register(
    "doc_fingerprints",
    oracle="""
    SELECT doc_id,
           md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp_md5,
           ('0x' || substr(md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')), 1, 15))::BIGINT
             AS fp_int
    FROM documents
    ORDER BY doc_id
    """,
    survey="F13,dedup",
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    return docs.select(
        "doc_id",
        F.md5(norm).alias("fp_md5"),
        F.conv(F.substring(F.md5(norm), 1, 15), 16, 10).cast("bigint").alias("fp_int"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Token & quality stats (quality scoring: length/stopword ratios).
# ---------------------------------------------------------------------------
@register(
    "doc_token_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, n_chars, {_TOKS_DUCK} AS toks,
             length(regexp_replace(text, '\\s', '', 'g')) AS chars_nospace
      FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(n_chars AS BIGINT) AS n_chars,
           FLOOR((chars_nospace * 1.0 / NULLIF(len(toks), 0)) * 10000 + 0.5) / 10000 AS avg_token_len,
           FLOOR((len(list_filter(toks, x -> x IN ({_STOP_SQL}))) * 1.0
                  / NULLIF(len(toks), 0)) * 10000 + 0.5) / 10000 AS stopword_ratio,
           FLOOR((LEAST(n_chars, 500) / 500.0
                  * (1 - len(list_filter(toks, x -> x IN ({_STOP_SQL}))) * 1.0
                         / NULLIF(len(toks), 0))) * 10000 + 0.5) / 10000 AS quality_score
    FROM t
    ORDER BY doc_id
    """,
    survey="text-quality,F11",
    tags=("bench",),
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_tokens(load_table(spark, sf_dir, "documents"))
    stop_arr = "array(" + _STOP_SQL + ")"
    n_tokens = F.expr("size(toks)").cast("bigint")
    n_stop = F.expr(f"size(filter(toks, x -> array_contains({stop_arr}, x)))")
    chars_nospace = F.length(F.regexp_replace("text", r"\s", ""))
    stop_ratio = n_stop * 1.0 / F.nullif(n_tokens.cast("double"), F.lit(0.0))
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
        round_half_up(
            chars_nospace * 1.0 / F.nullif(n_tokens.cast("double"), F.lit(0.0)), 4
        ).alias("avg_token_len"),
        round_half_up(stop_ratio, 4).alias("stopword_ratio"),
        round_half_up(
            F.least(F.col("n_chars"), F.lit(500)) / 500.0 * (1 - stop_ratio), 4
        ).alias("quality_score"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Language-ID heuristic (n-gram/stopword heuristic; at parity with the
# reference's script-based classifier F1 in spirit — the synthetic corpus is
# latin-script so the signal is the function-word ratio).
# ---------------------------------------------------------------------------
@register(
    "langid_heuristic",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, {_TOKS_DUCK} AS toks FROM documents
    ), scored AS (
      SELECT doc_id, lang,
             FLOOR((len(list_filter(toks, x -> x IN ({_STOP_SQL}))) * 1.0
                    / NULLIF(len(toks), 0)) * 10000 + 0.5) / 10000 AS en_stopword_ratio
      FROM t
    )
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN en_stopword_ratio >= 0.05 THEN 'en-like' ELSE 'other' END AS guessed_class,
           en_stopword_ratio
    FROM scored
    ORDER BY doc_id
    """,
    survey="F1,text-langid",
)
def langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_tokens(load_table(spark, sf_dir, "documents"))
    stop_arr = "array(" + _STOP_SQL + ")"
    ratio = round_half_up(
        F.expr(f"size(filter(toks, x -> array_contains({stop_arr}, x)))")
        * 1.0
        / F.nullif(F.expr("size(toks)").cast("double"), F.lit(0.0)),
        4,
    )
    return (
        docs.select(
            "doc_id",
            F.col("lang").alias("labeled_lang"),
            ratio.alias("en_stopword_ratio"),
        )
        .select(
            "doc_id",
            "labeled_lang",
            F.when(F.col("en_stopword_ratio") >= 0.05, "en-like")
            .otherwise("other")
            .alias("guessed_class"),
            "en_stopword_ratio",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Per-language rollup (A2-shape over documents).
# ---------------------------------------------------------------------------
@register(
    "lang_rollup",
    oracle=f"""
    WITH t AS (SELECT lang, n_chars, {_TOKS_DUCK} AS toks FROM documents)
    SELECT lang,
           COUNT(*) AS n_docs,
           FLOOR(AVG(n_chars) * 100 + 0.5) / 100 AS avg_chars,
           FLOOR(AVG(len(toks)) * 100 + 0.5) / 100 AS avg_tokens
    FROM t GROUP BY lang ORDER BY lang
    """,
    survey="A2,text",
)
def lang_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_tokens(load_table(spark, sf_dir, "documents"))
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            # round_half_up, not ROUND: an AVG of ints can land on an exactly
            # representable .xx5 tie (e.g. .125) where Spark's BigDecimal
            # HALF_UP and DuckDB's C round may diverge (ADVICE r1)
            round_half_up(F.avg("n_chars"), 2).alias("avg_chars"),
            round_half_up(F.avg(F.expr("size(toks)")), 2).alias("avg_tokens"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# A14 — corpus concat per group, deterministic ordering (reference
# title-corpus build api.py:708-714). collect_list is unordered in Spark, so
# we sort (doc_id, source) structs before joining — never rely on collect
# order.
# ---------------------------------------------------------------------------
@register(
    "lang_source_corpus",
    oracle="""
    WITH ranked AS (
      SELECT lang, doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      FROM documents
    )
    SELECT lang, string_agg(source, ' ' ORDER BY doc_id) AS source_corpus
    FROM ranked WHERE rn <= 20
    GROUP BY lang ORDER BY lang
    """,
    survey="A14",
)
def lang_source_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 20)
        .groupBy("lang")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "source"))),
                    lambda x: x.source,
                ),
                " ",
            ).alias("source_corpus")
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Word-3-gram shingles, shared by Jaccard and MinHash below.
# ---------------------------------------------------------------------------
_SHINGLES = """
    CASE WHEN size(toks) >= 3 THEN
      transform(sequence(0, size(toks) - 3),
                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
    ELSE array() END
"""
_SHINGLES_DUCK = """
    CASE WHEN len(toks) >= 3 THEN
      [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
       FOR i IN range(1, len(toks) - 1)]
    ELSE [] END
"""


def _shingle_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_tokens(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", "lang", F.explode(F.expr(_SHINGLES)).alias("shingle")
    ).distinct()


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup pairs, blocked by language (dedup op).
# ---------------------------------------------------------------------------
#: A shingle shared by k docs creates k² candidate rows in the self-join;
#: at 100 TB common boilerplate 3-grams are scale-killers. Shingles with
#: document frequency above this cap are dropped from BOTH engines (same
#: semantics, hash stays green at any sf); the cap is far above the test
#: fixtures' max DF (7 at sf0.01, 25 at sf0.1) so test results are exact.
MAX_SHINGLE_DF = 1000


@register(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, {_TOKS_DUCK} AS toks FROM documents
    ), sh0 AS (
      SELECT DISTINCT doc_id, lang, unnest({_SHINGLES_DUCK}) AS shingle FROM t
    ), sh AS (
      SELECT doc_id, lang, shingle FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY lang, shingle) AS df_cnt FROM sh0
      ) WHERE df_cnt <= {MAX_SHINGLE_DF}
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), commons AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.lang = b.lang
                         AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT c.doc_a, c.doc_b, c.n_common,
           FLOOR((c.n_common * 1.0 / (sa.n + sb.n - c.n_common)) * 10000 + 0.5) / 10000 AS jaccard
    FROM commons c
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
    WHERE c.n_common * 1.0 / (sa.n + sb.n - c.n_common) >= 0.1
    ORDER BY doc_a, doc_b
    """,
    survey="dedup-jaccard",
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate generation by shingle equality join (only docs sharing a
    shingle ever meet), language-blocked; Jaccard verified exactly.

    Hot-shingle guard: shingles with DF > MAX_SHINGLE_DF are dropped before
    the self-join (window keyed on the join key, so the DF computation
    shares the self-join's shuffle partitioning). The oracle applies the
    identical cap."""
    sh_all = _shingle_df(spark, sf_dir)
    w_df = Window.partitionBy("lang", "shingle")
    sh = (
        sh_all.withColumn("df_cnt", F.count("*").over(w_df))
        .where(F.col("df_cnt") <= MAX_SHINGLE_DF)
        .drop("df_cnt")
    )
    # carry each doc's post-cap shingle count on the row (window keyed by
    # doc_id) instead of a separate `sizes` aggregate: r20 re-derived the
    # whole shingle lineage three times (self-join sides + sizes) and
    # force-broadcast the per-doc sizes table — per-doc cardinality, so
    # unbroadcastable at 100 TB (VERDICT r20 item 7). Now the lineage runs
    # once and the sizes travel with the pair rows.
    sh = sh.withColumn("n", F.count("*").over(Window.partitionBy("doc_id")))
    buckets = (
        sh.groupBy("lang", "shingle")
        .agg(F.collect_list(F.struct("doc_id", "n")).alias("members"))
        .where(F.size("members") >= 2)
    )
    pairs = (
        buckets.select(F.col("members"), F.explode("members").alias("a"))
        .select(F.col("a"), F.explode("members").alias("b"))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
    )
    commons = pairs.groupBy(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.n").alias("na"),
        F.col("b.n").alias("nb"),
    ).agg(F.count("*").alias("n_common"))
    jac = F.col("n_common") * 1.0 / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return (
        commons.where(jac >= 0.1)
        .select("doc_a", "doc_b", "n_common", round_half_up(jac, 4).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding (dedup at scale). ONE md5 per shingle; the 16
# hash functions are affine permutations h_i(x) = (a_i*x + b_i) mod P over
# the md5-derived base hash (P = 2^31-1 so a_i*x stays in int64 — the
# standard universal-hash MinHash construction). r1 computed 16 md5s per
# shingle via a 16x crossJoin row explosion (VERDICT r1 flagged it as 41%
# of bench time); now the WHOLE signature is one groupBy with 16 min
# aggregates — zero row explosion, map-side partial mins.
# Bands of 4: candidates share a full band signature; estimated Jaccard =
# fraction of agreeing positions (k/16 values are exact at 4dp, so plain
# ROUND is tie-safe).
# ---------------------------------------------------------------------------
MINHASH_P = 2147483647  # 2^31 - 1


def _affine_params(i: int) -> tuple[int, int]:
    """Deterministic (a_i, b_i) from md5 — both engines regenerate them
    (they are baked into the query strings as literals)."""
    import hashlib

    a = int(hashlib.md5(f"a{i}".encode()).hexdigest()[:15], 16) % (MINHASH_P - 1) + 1
    b = int(hashlib.md5(f"b{i}".encode()).hexdigest()[:15], 16) % MINHASH_P
    return a, b


_AFFINE = [_affine_params(i) for i in range(1, N_HASHES + 1)]

#: The 16 signature aggregates, SQL text valid in both engines.
_SIG_COLS = [
    f"MIN(({a} * h0 + {b}) % {MINHASH_P}) AS mh{i}"
    for i, (a, b) in enumerate(_AFFINE, start=1)
]
_SIG_COLS_DUCK = ",\n             ".join(_SIG_COLS)
_BAND_SIGS_DUCK = ", ".join(
    "concat_ws('-', "
    + ", ".join(f"mh{b * BAND_SIZE + j + 1}" for j in range(BAND_SIZE))
    + ")"
    for b in range(N_HASHES // BAND_SIZE)
)
_EST_DUCK = (
    "("
    + " + ".join(f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END" for i in range(1, N_HASHES + 1))
    + f") / {N_HASHES}.0"
)


# The Spark band and agreement columns as SQL text, from the same band
# layout as the DuckDB twin above.
_MH_COLS = ", ".join(f"mh{i}" for i in range(1, N_HASHES + 1))
_BAND_SIGS = ", ".join(
    "concat_ws('-', "
    + ", ".join(f"CAST(mh{b * BAND_SIZE + j + 1} AS STRING)" for j in range(BAND_SIZE))
    + ")"
    for b in range(N_HASHES // BAND_SIZE)
)
_AGREE = (
    "aggregate(zip_with(a.mhs, b.mhs, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END),"
    " 0, (acc, v) -> acc + v)"
)


@register(
    "minhash_lsh_pairs",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, unnest({_SHINGLES_DUCK}) AS shingle FROM t
    ), hashed AS (
      SELECT doc_id,
             ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {MINHASH_P} AS h0
      FROM sh
    ), sig AS (
      SELECT doc_id,
             {_SIG_COLS_DUCK}
      FROM hashed GROUP BY doc_id
    ), bands AS (
      SELECT doc_id, b.band, ([{_BAND_SIGS_DUCK}])[b.band + 1] AS band_sig
      FROM sig CROSS JOIN (SELECT unnest(range(0, {N_HASHES // BAND_SIZE})) AS band) b
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           ROUND({_EST_DUCK}, 4) AS est_jaccard
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.doc_a
    JOIN sig sb ON sb.doc_id = c.doc_b
    ORDER BY c.doc_a, c.doc_b
    """,
    survey="dedup-minhash-lsh",
    tags=("bench",),
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs via bucket grouping, not a bands self-join.

    r20 shape: bands ⋈ bands on (band, band_sig) plus two more joins back
    to sig for the agreement count — the sig lineage (shingle explode +
    16-min groupBy) appeared FOUR times in the plan (24 Exchange / 4
    FileScan nodes; AQE deduped some shuffles at runtime but re-ran every
    post-exchange stage). Now: ONE sig pass carrying the full signature
    array, posexplode to (band, band_sig) rows, group each bucket with
    collect_list, and emit ordered pairs by double-explode — the agreement
    count is pure integer zip_with on the two carried arrays, and the
    final groupBy(doc_a, doc_b, est) replaces distinct-then-rejoin. Same
    candidate set (pairs sharing ≥1 band bucket), same est_jaccard (k/16
    is exact in binary, so the 4dp round is tie-free), hash-identical to
    the unchanged DuckDB twin. Guide §2.4 (remove shuffles), §1.2 (don't
    recompute what you already have).

    r22: pair generation goes through the hot-bucket guard in
    operators/pairs.py (chunked aggregation + AQE-splittable self-join) so
    a degenerate (band, band_sig) bucket cannot OOM one collect_list row
    or serialize O(m^2) pair emission on one task (VERDICT r21 item 1).
    Still a single signature pass; same pair set.
    """
    from holochatstats_spark.operators.pairs import bucket_pairs

    sh = _shingle_df(spark, sf_dir).drop("lang")
    hashed = sh.selectExpr(
        "doc_id",
        f"CAST(conv(substring(md5(shingle), 1, 15), 16, 10) AS BIGINT) % {MINHASH_P} AS h0",
    )
    sig = hashed.groupBy("doc_id").agg(*[F.expr(e) for e in _SIG_COLS])
    bands = sig.selectExpr(
        f"struct(doc_id, array({_MH_COLS}) AS mhs) AS m",
        f"posexplode(array({_BAND_SIGS})) AS (band, band_sig)",
    )
    pairs = bucket_pairs(bands, ["band", "band_sig"], "m", "doc_id")
    return (
        pairs.selectExpr(
            "a.doc_id AS doc_a",
            "b.doc_id AS doc_b",
            f"round({_AGREE} / {float(N_HASHES)}D, 4) AS est_jaccard",
        )
        # est_jaccard is a pure function of the pair, so the 3-column
        # distinct dedupes multi-band collisions exactly like the r20
        # distinct-on-pairs + signature re-join did
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# SimHash fingerprints (60-bit, portable md5 token hashes), with bucket
# sizes for exact-bucket near-dup grouping. Hamming-distance near-dup
# grouping lives in queries/neardup.py (simhash_neardup_pairs), which
# reuses these shared CTEs / this builder.
#
# Width: 60 bits = the first 15 md5 hex digits — the widest hash that stays
# strictly positive in a signed BIGINT in BOTH engines (a full 64 bits
# would set the sign bit and break >>/comparison portability). VERDICT r2
# flagged the 28-bit width as the scale-killer: 7-bit bands gave only 128
# buckets/band, ~N²/128 candidate pairs. 60 bits with 4×15-bit bands
# (queries/neardup.py) yields 32,768 buckets/band — a 256× collision cut —
# while the pigeonhole completeness argument (bands > Hamming threshold)
# is unchanged.
#
# Plan shape: the sign-sum is a PER-ROW computation (a document's tokens
# are already co-located in its row), so the Spark side is an
# Arrow-batched pandas_udf over the Spark-tokenized array — ZERO shuffle,
# map-only, embarrassingly parallel at 100 TB. (A 60-sum groupBy
# formulation was tried first: correct, but it shuffles tok counts twice
# and its 60-aggregate HashAggregate pays ~3 s of janino codegen per plan
# build.) Tokenization stays a single source of truth: the udf receives
# the SAME `_with_tokens` output the DuckDB twin mirrors, and only does
# integer md5/bit math on those strings.
# ---------------------------------------------------------------------------
SIMHASH_BITS = 60

_SIGN_SUMS_DUCK = ",\n             ".join(
    f"SUM(cnt * (2 * ((h >> {j}) & 1) - 1)) AS s{j}" for j in range(SIMHASH_BITS)
)
_PACK_BITS_DUCK = " + ".join(
    f"(CASE WHEN s{j} > 0 THEN (1::BIGINT << {j}) ELSE 0::BIGINT END)"
    for j in range(SIMHASH_BITS)
)

#: DuckDB CTEs ending in hashes(doc_id, simhash) — shared with neardup.py.
SIMHASH_CTES_DUCK = f"""
    t AS (
      SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents
    ), tok AS (
      SELECT doc_id, unnest(toks) AS tok FROM t
    ), tok_counts AS (
      SELECT doc_id, tok, COUNT(*) AS cnt,
             ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
      FROM tok GROUP BY doc_id, tok
    ), sign_sums AS (
      SELECT doc_id,
             {_SIGN_SUMS_DUCK}
      FROM tok_counts GROUP BY doc_id
    ), hashes AS (
      SELECT doc_id, CAST({_PACK_BITS_DUCK} AS BIGINT) AS simhash
      FROM sign_sums
    )"""


def _simhash_udf():
    """Arrow-batched (doc tokens) -> 60-bit simhash. Pure integer math:
    md5-hex[0:15] as int (identical bytes in every md5 implementation),
    numpy int64 sign sums — bit-identical to the SQL twin regardless of
    batch or summation order.

    Vectorized per batch (guide §4.2): the whole batch's tokens are
    flattened once, factorized to a unique vocabulary (md5 computed once
    per unique token), and the per-doc sign sums come from ONE
    np.add.reduceat over the ±1 bit matrix — equivalent to the per-doc
    count×sign sums (each occurrence contributes its token's ±1 row), with
    zero Python-level per-row work. The r20 version looped doc-by-doc and
    token-by-token in Python (~n_tokens dict ops per doc)."""
    import hashlib

    from pyspark.sql.functions import pandas_udf

    shifts = np.arange(SIMHASH_BITS, dtype=np.int64)

    @pandas_udf("bigint")
    def _sh(toks: pd.Series) -> pd.Series:
        n = len(toks)
        if n == 0:
            return pd.Series(np.empty(0, dtype=np.int64))
        arrs = [np.asarray(a, dtype=object) for a in toks]
        lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=n)
        out = np.zeros(n, dtype=np.int64)
        nonzero = lens > 0
        if not nonzero.any():
            return pd.Series(out)
        flat = np.concatenate([a for a in arrs if len(a)])
        codes, uniques = pd.factorize(flat)
        hs = np.fromiter(
            (
                int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
                for t in uniques
            ),
            dtype=np.int64,
            count=len(uniques),
        )
        signs = 2 * ((hs[:, None] >> shifts) & 1) - 1  # (u, 60) of ±1
        contrib = signs[codes]  # (n_occurrences, 60)
        nz_lens = lens[nonzero]
        offsets = np.zeros(len(nz_lens), dtype=np.int64)
        np.cumsum(nz_lens[:-1], out=offsets[1:])
        sums = np.add.reduceat(contrib, offsets, axis=0)  # (n_nonzero, 60)
        out[nonzero] = ((sums > 0).astype(np.int64) << shifts).sum(axis=1)
        return pd.Series(out)

    return _sh


def simhash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash) — the Spark twin of SIMHASH_CTES_DUCK. Map-only:
    tokens come from the shared `_with_tokens` expression, the hash from the
    Arrow-batched udf above. Docs with zero tokens are dropped, matching
    the twin's unnest (no tok rows => absent from hashes)."""
    docs = _with_tokens(load_table(spark, sf_dir, "documents"))
    return docs.where(F.expr("size(toks) > 0")).select(
        "doc_id", _simhash_udf()(F.col("toks")).alias("simhash")
    )


@register(
    "simhash_fingerprints",
    oracle=f"""
    WITH {SIMHASH_CTES_DUCK}
    SELECT h.doc_id, h.simhash,
           CAST(COUNT(*) OVER (PARTITION BY h.simhash) AS BIGINT) AS bucket_size
    FROM hashes h
    ORDER BY doc_id
    """,
    survey="dedup-simhash",
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    hashes = simhash_df(spark, sf_dir)
    w = Window.partitionBy("simhash")
    return hashes.select(
        "doc_id",
        "simhash",
        F.count("*").over(w).cast("bigint").alias("bucket_size"),
    ).orderBy("doc_id")
