"""Boolean queries: ``+required optional -excluded`` (Lucene QueryParser
``+``/``-`` syntax, scoring-BooleanQuery semantics).

The reference scores every query as a flat OR bag (rank-bm25 ``get_scores``
over the token list, ``/root/reference/src/neural_search/core/hybrid.py:119-147``);
must / must-not clauses are the classic fulltext-index extension. Semantics:

* a doc is eligible iff it contains EVERY must term and NO must_not term
  (a must term absent from the corpus therefore empties the result);
* eligible docs are ranked by the summed BM25 contributions of their
  matched must + should terms (must_not terms never score), per-occurrence
  qtf exactly like the flat path;
* deterministic ties: (score desc, doc_id asc).

Scale shape: the parsed clause table is query-cardinality and broadcast into
every corpus-side join — the doc_terms side never shuffles except on the
(query, doc) aggregation keys, and the must-count filter, the must_not
anti-join, and the score agg all share that key, so AQE/Catalyst can reuse
one exchange. The per-query top-k is a window cut, never a global sort.
pyspark is imported inside the operators, so the serving replica parses
clauses with ``parse_bool_query`` without it.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from ..config import BM25Params, DEFAULT_PARAMS
from ..functions.tokens import tokenize_py

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

    from ..index.stats import BM25Index


def parse_bool_query(text: str) -> list[tuple[str, str]]:
    """``+term`` -> must, ``-term`` -> must_not, bare -> should.

    Each whitespace segment is clause-prefixed then run through the
    reference tokenizer (a segment may yield several tokens, all inheriting
    its clause). Returns (clause, term) per token OCCURRENCE — callers
    aggregate qtf.
    """
    out: list[tuple[str, str]] = []
    for seg in text.split():
        if seg.startswith("+"):
            clause, body = "must", seg[1:]
        elif seg.startswith("-"):
            clause, body = "must_not", seg[1:]
        else:
            clause, body = "should", seg
        out.extend((clause, tok) for tok in tokenize_py(body))
    return out


def bool_terms_df(spark, queries: list[tuple[int, str, int]]) -> DataFrame:
    """(query_id, top_k, clause, term, qtf) from [(query_id, text, top_k)]."""
    rows = []
    for qid, text, k in queries:
        counts: dict[tuple[str, str], int] = {}
        for clause, term in parse_bool_query(text):
            counts[(clause, term)] = counts.get((clause, term), 0) + 1
        rows.extend(
            (qid, k, clause, term, qtf)
            for (clause, term), qtf in sorted(counts.items())
        )
    return spark.createDataFrame(
        rows, "query_id int, top_k int, clause string, term string, qtf int"
    )


def bm25_topk_bool(
    index: BM25Index,
    bool_terms: DataFrame,
    params: BM25Params = DEFAULT_PARAMS,
    positive_only: bool = False,
    round_to: int | None = None,
    min_should_match: int = 0,
) -> DataFrame:
    """Per-query boolean top-k: (query_id, rank, doc_id, score).

    ``bool_terms`` is the parsed clause table (see ``bool_terms_df``),
    assumed query-cardinality (broadcast side). ``round_to`` rounds scores
    before the rank window (oracle reconciliation).

    ``min_should_match`` is Lucene's
    ``BooleanQuery.setMinimumNumberShouldMatch(n)``: a doc is eligible only
    if it matches at least n DISTINCT should terms (repeated occurrences of
    one term count once), on top of the must/must_not constraints. A query
    with fewer than n distinct should terms can match nothing — same literal
    semantics as Lucene, pinned in tests. The count rides the same
    (query, doc) aggregation key as the score, so it adds no new shuffle
    grain.
    """
    from pyspark.sql import functions as F

    from .bm25_dataframe import bm25_contrib_expr, rank_topk

    bt = bool_terms
    # required-term count per query (0 for pure should queries): tiny,
    # computed on the driver-side-sized clause table, broadcast back
    must_n = bt.groupBy("query_id").agg(
        F.count_distinct(F.when(F.col("clause") == "must", F.col("term"))).alias(
            "n_must"
        )
    )

    scoring_terms = bt.where(F.col("clause") != "must_not").join(
        index.terms.select("term", "idf"), "term"
    )
    matched = index.doc_terms.join(F.broadcast(scoring_terms), "term")

    # doc eligibility 1: contains every must term
    must_counts = (
        matched.where(F.col("clause") == "must")
        .groupBy("query_id", "doc_id")
        .agg(F.count_distinct("term").alias("n_have"))
    )
    scored = (
        matched.select(
            "query_id",
            "top_k",
            "doc_id",
            bm25_contrib_expr(params.k1, params.b, index.stats.avgdl).alias("contrib"),
        )
        .groupBy("query_id", "top_k", "doc_id")
        .agg(F.sum("contrib").alias("score"))
    )
    eligible = (
        scored.join(must_counts, ["query_id", "doc_id"], "left")
        .join(F.broadcast(must_n), "query_id")
        .where(F.coalesce(F.col("n_have"), F.lit(0)) == F.col("n_must"))
        .drop("n_have", "n_must")
    )

    # doc eligibility 2: contains no must_not term (anti-join on the
    # excluded docs of each query)
    excluded = (
        index.doc_terms.join(
            F.broadcast(bt.where(F.col("clause") == "must_not")), "term"
        )
        .select("query_id", "doc_id")
        .distinct()
    )
    eligible = eligible.join(excluded, ["query_id", "doc_id"], "left_anti")

    if min_should_match > 0:
        should_counts = (
            matched.where(F.col("clause") == "should")
            .groupBy("query_id", "doc_id")
            .agg(F.count_distinct("term").alias("n_should"))
        )
        eligible = (
            eligible.join(should_counts, ["query_id", "doc_id"], "left")
            .where(F.coalesce(F.col("n_should"), F.lit(0)) >= min_should_match)
            .drop("n_should")
        )

    if positive_only:
        eligible = eligible.where(F.col("score") > 0)
    if round_to is not None:
        eligible = eligible.withColumn("score", F.round("score", round_to))
    return rank_topk(eligible)
