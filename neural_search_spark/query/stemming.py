"""Stemmed BM25 retrieval: analyzer-stage morphological folding.

Same single-term-per-group semantics as synonym folding
(``query/synonyms.py``) — all surface forms of a word share one posting
list, one df (union of the variants' doc sets), one idf — but the fold is a
*vocabulary-independent expression* (``functions/stem.py``) instead of a
broadcast dictionary join: no lookup table to build or ship, the stem runs
inside whole-stage codegen on both the document and query sides. Doc
lengths are token counts and stemming never changes token counts, so
N/avgdl carry over untouched; df/idf and the epsilon floor's ``average_idf``
are recomputed over the stemmed vocabulary.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import BM25Params, DEFAULT_PARAMS
from ..functions.stem import s_stem_col
from ..index.stats import BM25Index, floored_term_stats, mean_raw_idf, term_stats
from .bm25_dataframe import bm25_contrib_expr, query_terms, rank_topk


def stem_doc_terms(doc_terms: DataFrame) -> DataFrame:
    """Fold (doc_id, term, tf, doc_len) through the stemmer; variant tfs sum."""
    return (
        doc_terms.select(
            "doc_id", s_stem_col(F.col("term")).alias("term"), "tf", "doc_len"
        )
        .groupBy("doc_id", "term")
        .agg(F.sum("tf").alias("tf"), F.first("doc_len").alias("doc_len"))
    )


def stem_query_terms(qt: DataFrame) -> DataFrame:
    """Fold (query_id, top_k, term, qtf) the same way (qtf sums)."""
    return (
        qt.select(
            "query_id", "top_k", s_stem_col(F.col("term")).alias("term"), "qtf"
        )
        .groupBy("query_id", "top_k", "term")
        .agg(F.sum("qtf").alias("qtf"))
    )


def stem_index(index: BM25Index, params: BM25Params = DEFAULT_PARAMS) -> BM25Index:
    """Logical index over the stemmed vocabulary (stats recomputed)."""
    sdt = stem_doc_terms(index.doc_terms)
    ts = term_stats(sdt, index.stats.n_docs)
    average_idf = mean_raw_idf(ts)
    terms = floored_term_stats(ts, average_idf, params)
    return BM25Index(
        doc_terms=sdt,
        terms=terms,
        stats=replace(index.stats, average_idf=average_idf),
    )


def bm25_topk_stem(
    index: BM25Index,
    queries: DataFrame,
    params: BM25Params = DEFAULT_PARAMS,
    positive_only: bool = True,
    score_rounding: int | None = None,
) -> DataFrame:
    """Per-query BM25 top-k over the stemmed vocabulary — the one-shuffle
    batch plan of ``bm25_dataframe.bm25_topk`` with the codegen stem fold
    on both sides."""
    sidx = stem_index(index, params)
    sqt = stem_query_terms(query_terms(queries))
    q_idf = sqt.join(sidx.terms.select("term", "idf"), "term", "inner")
    scored = sidx.doc_terms.join(F.broadcast(q_idf), "term").select(
        "query_id",
        "top_k",
        "doc_id",
        bm25_contrib_expr(params.k1, params.b, sidx.stats.avgdl).alias("contrib"),
    )
    per_doc = scored.groupBy("query_id", "top_k", "doc_id").agg(
        F.sum("contrib").alias("score")
    )
    if positive_only:
        per_doc = per_doc.where(F.col("score") > 0)
    if score_rounding is not None:
        per_doc = per_doc.withColumn("score", F.round("score", score_rounding))
    return rank_topk(per_doc)
