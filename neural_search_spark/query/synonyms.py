"""Synonym folding for BM25 retrieval (analysis-time synonym expansion).

The reference engine matches query tokens literally (rank-bm25 ``get_scores``
over raw token lists; ``/root/reference/src/neural_search/core/hybrid.py:69-76``)
— "merge" never matches a document that says "join". Classic fulltext engines
solve this with an analyzer-stage synonym filter (Lucene's
``SynonymGraphFilter``): every member of a synonym group is rewritten to one
canonical term on BOTH the document and the query side, so the group shares
one posting list, one document frequency, and one IDF. That single-term
semantics is exactly what folding gives:

* group tf in a doc = sum of member tfs (the doc "says the concept" that
  many times);
* group df = number of docs containing ANY member (union, not sum — exact,
  because the fold happens before the per-doc distinct-term aggregation);
* IDF (and the rank-bm25 epsilon floor's ``average_idf``) recomputed over
  the folded vocabulary.

Spark-first shape: the synonym table is dictionary-sized -> broadcast left
join + ``coalesce`` (identity for unmapped terms), then one re-aggregation
on the already-shuffled (doc_id, term) key. Doc lengths are token counts and
folding does not change token counts, so N/avgdl are reused untouched.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import BM25Params, DEFAULT_PARAMS
from ..index.stats import BM25Index, floored_term_stats, mean_raw_idf, term_stats
from .bm25_dataframe import bm25_contrib_expr, query_terms, rank_topk


def synonyms_df(spark, mapping: dict[str, str]) -> DataFrame:
    """(term, canonical) rows from a variant->canonical dict.

    Canonical self-rows are unnecessary (unmapped terms pass through the
    ``coalesce`` identity) but harmless if present.
    """
    rows = sorted((t, c) for t, c in mapping.items() if t != c)
    return spark.createDataFrame(rows, "term string, canonical string")


def fold_doc_terms(doc_terms: DataFrame, syn: DataFrame) -> DataFrame:
    """Fold (doc_id, term, tf, doc_len) through the synonym table.

    Group tf = sum of member tfs; rows stay unique per (doc_id, canonical),
    which keeps ``term_stats``'s count(*)-is-df invariant intact.
    """
    return (
        doc_terms.join(F.broadcast(syn), "term", "left_outer")
        .select(
            "doc_id",
            F.coalesce("canonical", "term").alias("term"),
            "tf",
            "doc_len",
        )
        .groupBy("doc_id", "term")
        .agg(F.sum("tf").alias("tf"), F.first("doc_len").alias("doc_len"))
    )


def fold_query_terms(qt: DataFrame, syn: DataFrame) -> DataFrame:
    """Fold (query_id, top_k, term, qtf) the same way (qtf sums)."""
    return (
        qt.join(F.broadcast(syn), "term", "left_outer")
        .select(
            "query_id", "top_k", F.coalesce("canonical", "term").alias("term"), "qtf"
        )
        .groupBy("query_id", "top_k", "term")
        .agg(F.sum("qtf").alias("qtf"))
    )


def fold_index(
    index: BM25Index, syn: DataFrame, params: BM25Params = DEFAULT_PARAMS
) -> BM25Index:
    """Logical index over the folded vocabulary.

    df/raw_idf re-aggregate from the folded doc_terms; the epsilon floor's
    ``average_idf`` is recomputed because the vocabulary changed (fewer,
    more frequent terms shift the mean). N and avgdl carry over unchanged.
    """
    fdt = fold_doc_terms(index.doc_terms, syn)
    ts = term_stats(fdt, index.stats.n_docs)
    average_idf = mean_raw_idf(ts)
    terms = floored_term_stats(ts, average_idf, params)
    return BM25Index(
        doc_terms=fdt,
        terms=terms,
        stats=replace(index.stats, average_idf=average_idf),
    )


def bm25_topk_syn(
    index: BM25Index,
    queries: DataFrame,
    syn: DataFrame,
    params: BM25Params = DEFAULT_PARAMS,
    positive_only: bool = True,
    score_rounding: int | None = None,
) -> DataFrame:
    """Per-query BM25 top-k over the folded vocabulary.

    Same one-shuffle batch plan as ``bm25_dataframe.bm25_topk`` — the folds
    are a broadcast join + re-aggregation on each side, nothing else changes.
    ``score_rounding`` ranks on the rounded score (oracle-reconciliation
    mode, same contract as the serving/WAND paths).
    """
    fidx = fold_index(index, syn, params)
    fqt = fold_query_terms(query_terms(queries), syn)
    q_idf = fqt.join(fidx.terms.select("term", "idf"), "term", "inner")
    scored = fidx.doc_terms.join(F.broadcast(q_idf), "term").select(
        "query_id",
        "top_k",
        "doc_id",
        bm25_contrib_expr(params.k1, params.b, fidx.stats.avgdl).alias("contrib"),
    )
    per_doc = scored.groupBy("query_id", "top_k", "doc_id").agg(
        F.sum("contrib").alias("score")
    )
    if positive_only:
        per_doc = per_doc.where(F.col("score") > 0)
    if score_rounding is not None:
        per_doc = per_doc.withColumn("score", F.round("score", score_rounding))
    return rank_topk(per_doc)
