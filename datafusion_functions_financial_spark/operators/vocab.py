"""Corpus vocabulary statistics: exact top-k frequent tokens.

The exact heavy-hitters query every corpus audit starts with (stopword
discovery, boilerplate smells, tokenizer sanity). Scale shape: explode
tokens (narrow) -> one map-side-combined groupBy on the token -> top-k
via ``orderBy().limit(k)``, which Spark plans as TakeOrderedAndProject
(per-partition heap + tiny driver merge) — the vocabulary never passes
through a single global sort task, and rank is attached by a window
over only the k surviving rows (same pattern as
``plans/analytics._q_top_customers``).

For the approximate/streaming variant at extreme cardinalities, pair
with ``operators/sketch.py`` (the same groupBy feeds a register-table
sketch); exact counting over 100 TB is still linear-with-combine here
because token frequency follows Zipf — partial aggregation collapses
the head mass map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load
from .decontam import _TOKENS, _with_tokens

__all__ = ["token_counts", "top_tokens", "vocab_stats",
           "remove_stopwords"]

TOP_K = 50
STOP_K = 10


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(token, n_occurrences) for every distinct token."""
    toks = (
        _with_tokens(df, text_col)
        .select(F.explode("__toks").alias("token"))
        .filter(F.col("token") != "")
    )
    return toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
    )


def top_tokens(df: DataFrame, text_col: str = "text",
               k: int = TOP_K) -> DataFrame:
    """Top-k tokens by occurrence count with deterministic rank
    (count DESC, token ASC)."""
    counts = token_counts(df, text_col)
    top = counts.orderBy(F.col("n_occurrences").desc(),
                         F.col("token")).limit(k)
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("token"))
    return top.withColumn("rank", F.row_number().over(w).cast("bigint"))


def vocab_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-row corpus vocabulary profile: total tokens, distinct tokens
    (vocabulary size), type-token ratio, and the head token's share of
    all occurrences (Zipf-head mass — a boilerplate smell when high).

    Two aggregations, both over the already-tiny token-count relation;
    the heavy lifting is the same single map-side-combined groupBy as
    ``token_counts``. TTR and head share are exact ratios rounded with
    the portable 0-dp-scale trick.
    """
    counts = token_counts(df, text_col)
    scale = 10_000.0
    return counts.agg(
        F.sum("n_occurrences").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("n_occurrences").alias("top_count"),
    ).selectExpr(
        "n_tokens",
        "n_distinct",
        "top_count",
        f"round(CAST(n_distinct AS DOUBLE) / n_tokens * {scale!r}) "
        f"/ {scale!r} AS type_token_ratio",
        f"round(CAST(top_count AS DOUBLE) / n_tokens * {scale!r}) "
        f"/ {scale!r} AS top_token_share",
    )


def remove_stopwords(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", k: int = STOP_K) -> DataFrame:
    """Corpus-derived stop-word filtering: the corpus's top-``k``
    tokens become the stop list; returns per-doc
    (id, n_tokens, n_kept, kept_ratio).

    The stop list is the deterministic ``top_tokens`` head collapsed to
    one broadcast array row; the filter is an in-scan ``array_contains``
    membership test (order-independent), so the corpus never shuffles.
    """
    stop = top_tokens(df, text_col, k).agg(
        F.array_sort(F.collect_list("token")).alias("__stop"))
    scale = 10_000.0
    return (
        _with_tokens(df, text_col)
        .crossJoin(F.broadcast(stop))
        .selectExpr(
            id_col,
            "CAST(size(filter(__toks, t -> t != '')) AS BIGINT)"
            " AS n_tokens",
            "CAST(size(filter(__toks, t -> t != '' AND NOT "
            "array_contains(__stop, t))) AS BIGINT) AS n_kept",
        )
        .selectExpr(
            id_col, "n_tokens", "n_kept",
            f"round(CAST(n_kept AS DOUBLE) / nullif(n_tokens, 0)"
            f" * {scale!r}) / {scale!r} AS kept_ratio",
        )
    )


# --------------------------------------------------------------------------
# Gate queries
# --------------------------------------------------------------------------


def _q_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return top_tokens(load(spark, sf_dir, "documents"))


_ORACLE_TOP_TOKENS = f"""
WITH toks AS (
  SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS t
  FROM documents
), flat AS (
  SELECT u.token FROM toks, UNNEST(t) AS u(token) WHERE u.token != ''
), counts AS (
  SELECT token, count(*) AS n_occurrences FROM flat GROUP BY token
), ranked AS (
  SELECT token, n_occurrences,
         row_number() OVER (ORDER BY n_occurrences DESC, token) AS rank
  FROM counts
)
SELECT token, n_occurrences, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {TOP_K}
"""

def _q_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return vocab_stats(load(spark, sf_dir, "documents"))


_ORACLE_VOCAB_STATS = """
WITH toks AS (
  SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS t
  FROM documents
), flat AS (
  SELECT u.token FROM toks, UNNEST(t) AS u(token) WHERE u.token != ''
), counts AS (
  SELECT token, count(*) AS n FROM flat GROUP BY token
)
SELECT CAST(sum(n) AS BIGINT) AS n_tokens,
       count(*) AS n_distinct,
       CAST(max(n) AS BIGINT) AS top_count,
       round(CAST(count(*) AS DOUBLE) / sum(n) * 10000.0) / 10000.0
         AS type_token_ratio,
       round(CAST(max(n) AS DOUBLE) / sum(n) * 10000.0) / 10000.0
         AS top_token_share
FROM counts
"""

def _q_stopwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    return remove_stopwords(load(spark, sf_dir, "documents"))


_ORACLE_STOPWORDS = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
  FROM documents
), flat AS (
  SELECT u.token FROM toks, UNNEST(t) AS u(token) WHERE u.token != ''
), counts AS (
  SELECT token, count(*) AS n FROM flat GROUP BY token
), ranked AS (
  SELECT token, row_number() OVER (ORDER BY n DESC, token) AS rank
  FROM counts
), stop AS (
  SELECT list(token) AS l FROM ranked WHERE rank <= {STOP_K}
), per_doc AS (
  SELECT toks.doc_id,
         len(list_filter(toks.t, x -> x != '')) AS n_tokens,
         len(list_filter(toks.t, x -> x != ''
             AND NOT list_contains(stop.l, x))) AS n_kept
  FROM toks CROSS JOIN stop
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_kept AS BIGINT) AS n_kept,
       round(CAST(n_kept AS DOUBLE) / nullif(n_tokens, 0) * 10000.0)
         / 10000.0 AS kept_ratio
FROM per_doc
"""

BPE_TOPK = 25


def bpe_merge_candidates(df: DataFrame, text_col: str = "text",
                         k: int = BPE_TOPK) -> DataFrame:
    """(left, right, pair_count, rank): the top-``k`` adjacent
    CHARACTER pairs by corpus frequency — the first merge candidates
    of BPE tokenizer training. Each distinct word contributes its
    within-word char pairs weighted by the word's occurrence count,
    so the whole computation runs on the VOCABULARY-sized relation:
    at 100 TB the corpus collapses to word counts first (one
    map-combinable shuffle) and the char-pair explode touches only
    distinct words. Ties rank (count DESC, left ASC, right ASC)."""
    counts = token_counts(df, text_col)
    pairs = (
        counts.selectExpr("split(token, '') AS __cs",
                          "n_occurrences AS __n")
        .filter(F.expr("size(__cs) >= 2"))
        .select(F.explode(F.expr(
            "zip_with(slice(__cs, 1, size(__cs) - 1), "
            "slice(__cs, 2, size(__cs) - 1), "
            "(x, y) -> struct(x AS a, y AS b))")).alias("bg"),
            F.col("__n"))
        .select("bg.a", "bg.b", "__n")
    )
    agg = pairs.groupBy("a", "b").agg(
        F.sum("__n").cast("bigint").alias("pair_count"))
    top = agg.orderBy(F.col("pair_count").desc(), F.col("a").asc(),
                      F.col("b").asc()).limit(k)
    w = Window.orderBy(F.col("pair_count").desc(), F.col("a").asc(),
                       F.col("b").asc())
    return top.select(
        F.col("a").alias("left"), F.col("b").alias("right"),
        "pair_count",
        F.row_number().over(w).cast("bigint").alias("rank"),
    )


def _q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_merge_candidates(load(spark, sf_dir, "documents"))


_ORACLE_BPE_PAIRS = f"""
WITH toks AS (
  SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS t
  FROM documents
), flat AS (
  SELECT u.token FROM toks, UNNEST(t) AS u(token) WHERE u.token != ''
), counts AS (
  SELECT token, count(*) AS n FROM flat GROUP BY token
), chars AS (
  SELECT regexp_split_to_array(token, '') AS cs, n
  FROM counts WHERE len(token) >= 2
), pairs AS (
  SELECT unnest(list_transform(cs[2:],
           (x, i) -> struct_pack(a := cs[i], b := x))) AS bg, n
  FROM chars
), agg AS (
  SELECT bg.a AS l, bg.b AS r, CAST(sum(n) AS BIGINT) AS pair_count
  FROM pairs GROUP BY 1, 2
), ranked AS (
  SELECT l, r, pair_count,
    row_number() OVER (ORDER BY pair_count DESC, l ASC, r ASC)
      AS rank
  FROM agg
)
SELECT l AS "left", r AS "right", pair_count,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {BPE_TOPK}
"""


QUERIES: dict = {
    "vocab_top_tokens_documents": (_q_top_tokens, _ORACLE_TOP_TOKENS),
    "vocab_stats_documents": (_q_vocab_stats, _ORACLE_VOCAB_STATS),
    "vocab_bpe_pairs_documents": (_q_bpe_pairs, _ORACLE_BPE_PAIRS),
    "vocab_remove_stopwords_documents": (_q_stopwords, _ORACLE_STOPWORDS),
}
