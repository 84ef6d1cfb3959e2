"""Prefix (wildcard) queries: ``spar*`` matches every vocabulary term with
that prefix and ranks docs by the summed BM25 contributions of the matches.

The reference engine scores only literal query tokens (rank-bm25 consumes the
exact token list, ``/root/reference/src/neural_search/core/hybrid.py:119-147``);
multi-term/wildcard expansion is the classic fulltext-index feature on top
(Lucene ``PrefixQuery`` with scoring-BooleanQuery rewrite). Semantics: each
matched vocabulary term contributes once (qtf = 1) with its own idf; docs are
ranked by the summed contributions, deterministic doc_id ties.

Scale shape: the expansion join runs against the TERMS table (vocabulary-
bounded, corpus-size-independent) with the tiny query side broadcast — a
nested-loop ``startswith`` over |V| x |Q| is cheap, and a terms table stored
sorted/bucketed by term turns it into a range scan via min/max pruning. The
expanded (query, term, idf) set is again broadcast into the doc_terms join,
so the corpus side only shuffles once, at the per-(query, doc) score agg —
identical shape to ``bm25_dataframe.bm25_topk``. pyspark is imported inside
the operators, so the serving replica translates patterns with
``wildcard_regex`` without it.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from ..config import BM25Params, DEFAULT_PARAMS

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

    from ..index.stats import BM25Index


def expand_prefix(terms: DataFrame, queries: DataFrame) -> DataFrame:
    """(query_id, top_k, term, idf): every vocab term matching each prefix.

    ``queries`` needs (query_id, prefix, top_k) and is broadcast; a prefix
    matching nothing simply expands to zero rows (empty result group, same
    as an unknown literal term).
    """
    from pyspark.sql import functions as F

    return terms.select("term", "idf").join(
        F.broadcast(queries.select("query_id", "prefix", "top_k")),
        F.col("term").startswith(F.col("prefix")),
    ).select("query_id", "top_k", "term", "idf")


def prefix_topk(
    index: BM25Index,
    queries: DataFrame,
    params: BM25Params = DEFAULT_PARAMS,
    positive_only: bool = False,
    round_to: int | None = None,
) -> DataFrame:
    """Per-query prefix-match top-k: (query_id, rank, doc_id, score).

    ``round_to`` rounds scores BEFORE the rank window (pass 4 for the
    cross-engine oracle reconciliation used by the driver entries).
    """
    from pyspark.sql import functions as F

    from .bm25_dataframe import bm25_contrib_expr, rank_topk

    expanded = expand_prefix(index.terms, queries).withColumn("qtf", F.lit(1))
    contrib = index.doc_terms.join(F.broadcast(expanded), "term").select(
        "query_id",
        "top_k",
        "doc_id",
        bm25_contrib_expr(params.k1, params.b, index.stats.avgdl).alias("contrib"),
    )
    per_doc = contrib.groupBy("query_id", "top_k", "doc_id").agg(
        F.sum("contrib").alias("score")
    )
    if positive_only:
        per_doc = per_doc.where(F.col("score") > 0)
    if round_to is not None:
        per_doc = per_doc.withColumn("score", F.round("score", round_to))
    return rank_topk(per_doc)


# --- General wildcard patterns (Lucene WildcardQuery) -------------------------


def wildcard_regex(pattern: str) -> str:
    """Translate a Lucene-style wildcard (``*`` = any run, ``?`` = one char)
    into an anchored regex, escaping everything else. Identical output feeds
    Spark ``rlike`` and the DuckDB oracle's ``regexp_matches``, so the two
    engines match the same vocabulary subset by construction."""
    import re as _re

    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(_re.escape(ch))
    return "^" + "".join(out) + "$"


def expand_wildcard(terms: DataFrame, queries: DataFrame) -> DataFrame:
    """(query_id, top_k, term, idf): vocab terms matching each pattern.

    ``queries`` needs (query_id, pattern, top_k). The regex join runs
    against the vocabulary-bounded terms table with the query side
    broadcast — |V| x |Q| regex tests, corpus-size-independent (Lucene
    walks its term dictionary the same way). A leading-``*`` pattern is the
    known expensive shape there too; the vocab scan here is flat either way.
    """
    from pyspark.sql import functions as F

    q = queries.select(
        "query_id",
        "top_k",
        F.col("pattern"),
    )
    # build the regex driver-side per pattern row is not possible in a pure
    # column expr, so precompute it into the (tiny, broadcast) query side
    spark = queries.sparkSession
    rows = [
        (r["query_id"], r["top_k"], r["pattern"], wildcard_regex(r["pattern"]))
        for r in q.collect()
    ]
    qx = spark.createDataFrame(
        rows, "query_id int, top_k int, pattern string, rx string"
    )
    return (
        terms.select("term", "idf")
        .join(F.broadcast(qx), F.expr("term rlike rx"))
        .select("query_id", "top_k", "term", "idf")
    )


def wildcard_topk(
    index: BM25Index,
    queries: DataFrame,
    params: BM25Params = DEFAULT_PARAMS,
    positive_only: bool = False,
    round_to: int | None = None,
) -> DataFrame:
    """Per-query wildcard-match top-k: (query_id, rank, doc_id, score).
    Same scoring-expansion semantics and plan shape as ``prefix_topk``
    (each matched term contributes once with its own idf)."""
    from pyspark.sql import functions as F

    from .bm25_dataframe import bm25_contrib_expr, rank_topk

    expanded = expand_wildcard(index.terms, queries).withColumn("qtf", F.lit(1))
    contrib = index.doc_terms.join(F.broadcast(expanded), "term").select(
        "query_id",
        "top_k",
        "doc_id",
        bm25_contrib_expr(params.k1, params.b, index.stats.avgdl).alias("contrib"),
    )
    per_doc = contrib.groupBy("query_id", "top_k", "doc_id").agg(
        F.sum("contrib").alias("score")
    )
    if positive_only:
        per_doc = per_doc.where(F.col("score") > 0)
    if round_to is not None:
        per_doc = per_doc.withColumn("score", F.round("score", round_to))
    return rank_topk(per_doc)
