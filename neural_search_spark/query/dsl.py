"""JSON query DSL: one declarative request object compiled onto the
operator library.

The reference exposes a single free-text request body
(``/root/reference/src/neural_search/api/search.py:21-53``); production
fulltext engines expose a structured query DSL (the Elasticsearch
``query``/``collapse``/``rescore`` request shape) so callers compose
retrieval features without bespoke code paths. This module is a thin
COMPILER — it builds the same DataFrame plans the dedicated operators
build (and is pinned equivalent to them in tests); no scoring logic lives
here.

Supported request shape (a dict, typically parsed from JSON):

    {
      "query": {"match": {"query": "free text",
                          "similarity": "bm25" | "lm_dirichlet"}}
             | {"bool": {"must": [t...], "should": [t...],
                         "must_not": [t...], "minimum_should_match": n}}
             | {"match_phrase": {"query": "exact phrase", "slop": 0}}
             | {"boosted": "term^2.5 other"}
             | {"prefix": "jo"} | {"wildcard": "j*n"}
             | {"more_like_this": doc_id},
      "top_k": 10,                    # optional, default 10
      "filter": {"lang": "en", "n_chars": {"$gte": 100}},   # optional,
                                      # composes with match (filter context)
      "collapse": {"field": "site", "per_key": 1},          # optional
      "function_score": {"field": "n_chars",                # optional
                         "factor": 1.0, "boost_mode": "multiply"},
      "rescore": {"phrase": "exact phrase", "window_size": 50,
                  "query_weight": 1.0, "rescore_weight": 2.0},  # optional
    }

``collapse`` / ``function_score`` / ``rescore`` layer on a match query
(they re-shape the flat ranking, mirroring the ES request layout where
they are siblings of ``query``); every other kind compiles to its
dedicated operator. ``match_phrase`` with ``slop > 0`` compiles to the
ordered-proximity operator with ``max_span = n_terms + slop`` (slop 0 is
the exact-phrase plan, ranked by phrase tf). ``filter`` is the ES filter
context: a non-scoring metadata predicate (``operators/filters.py``)
applied as a semi join on the scored side — document scores are identical
to the unfiltered query, matching ES semantics. Exactly one
result-shaping sibling may be present — composing several is a plan
product the dedicated operators define individually.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..config import BM25Params, DEFAULT_PARAMS
from ..index.stats import BM25Index

_SHAPERS = ("collapse", "function_score", "rescore")


def search_dsl(
    index: BM25Index,
    request: dict,
    docs: DataFrame | None = None,
    params: BM25Params = DEFAULT_PARAMS,
    positive_only: bool = False,
    round_to: int | None = None,
) -> DataFrame:
    """Compile one DSL request to a ranked (query_id=0, rank, doc_id, score)
    plan (collapse adds its key column). ``docs`` supplies doc attributes
    for collapse / function_score / rescore (doc_id + field / text)."""
    spark = index.doc_terms.sparkSession
    q = request.get("query")
    if not isinstance(q, dict) or len(q) != 1:
        raise ValueError(
            "request['query'] must be exactly one of match|bool|match_phrase|"
            "prefix|wildcard|boosted|more_like_this"
        )
    top_k = int(request.get("top_k", 10))
    shapers = [k for k in _SHAPERS if k in request]
    if len(shapers) > 1:
        raise ValueError(f"at most one of {_SHAPERS} per request, got {shapers}")

    (kind, body), = q.items()
    filt = request.get("filter")
    if filt is not None and (kind != "match" or shapers):
        raise ValueError("'filter' composes with plain match queries")
    if kind == "match_phrase":
        if shapers:
            raise ValueError("result shaping composes with match queries")
        from ..functions.tokens import tokenize_py
        from .phrase import doc_term_positions, ordered_near_topk, phrase_topk

        text = body["query"] if isinstance(body, dict) else str(body)
        slop = int(body.get("slop", 0)) if isinstance(body, dict) else 0
        positions = doc_term_positions(_need_docs(docs, "match_phrase"))
        if slop == 0:
            return phrase_topk(positions, spark, [(0, text, top_k)])
        span = len(tokenize_py(text)) + slop
        return ordered_near_topk(positions, spark, [(0, text, top_k, span)])
    if kind in ("prefix", "wildcard"):
        if shapers:
            raise ValueError("result shaping composes with match queries")
        from .prefix import prefix_topk, wildcard_topk

        col = "prefix" if kind == "prefix" else "pattern"
        qdf = spark.createDataFrame(
            [(0, str(body), top_k)], f"query_id int, {col} string, top_k int"
        )
        fn = prefix_topk if kind == "prefix" else wildcard_topk
        return fn(index, qdf, params=params, positive_only=positive_only,
                  round_to=round_to)
    if kind == "boosted":
        if shapers:
            raise ValueError("result shaping composes with match queries")
        from .boosting import bm25_topk_boosted

        qdf = spark.createDataFrame(
            [(0, str(body), top_k)], "query_id int, query_text string, top_k int"
        )
        return bm25_topk_boosted(
            index, qdf, params=params, positive_only=positive_only,
            score_rounding=round_to,
        )
    if kind == "more_like_this":
        if shapers:
            raise ValueError("result shaping composes with match queries")
        from .mlt import more_like_this

        src = spark.createDataFrame([(int(body),)], "src_id long")
        return more_like_this(
            index, src, k=top_k, params=params, positive_only=positive_only
        )
    if kind == "bool":
        if shapers:
            raise ValueError("result shaping composes with match queries")
        from .boolean import bm25_topk_bool, bool_terms_df, parse_bool_query  # noqa: F401

        text = " ".join(
            ["+" + t for t in body.get("must", [])]
            + ["-" + t for t in body.get("must_not", [])]
            + list(body.get("should", []))
        )
        bt = bool_terms_df(spark, [(0, text, top_k)])
        return bm25_topk_bool(
            index, bt, params=params, positive_only=positive_only,
            round_to=round_to,
            min_should_match=int(body.get("minimum_should_match", 0)),
        )
    if kind != "match":
        raise ValueError(f"unsupported query kind: {kind}")

    text = body["query"] if isinstance(body, dict) else str(body)
    queries = spark.createDataFrame(
        [(0, text, top_k)], "query_id int, query_text string, top_k int"
    )
    similarity = body.get("similarity", "bm25") if isinstance(body, dict) else "bm25"
    if similarity not in ("bm25", "lm_dirichlet"):
        raise ValueError(f"unsupported similarity: {similarity}")
    if similarity == "lm_dirichlet":
        if shapers or filt is not None:
            raise ValueError("similarity overrides compose with plain match only")
        from .similarities import lm_dirichlet_topk

        return lm_dirichlet_topk(
            index.doc_terms, queries,
            round_to=4 if round_to is None else round_to,
        )

    if "collapse" in request:
        from .rescore import collapse_topk

        c = request["collapse"]
        return collapse_topk(
            index, queries, _need_docs(docs, "collapse"), c["field"],
            per_key=int(c.get("per_key", 1)), params=params,
            positive_only=positive_only, round_to=round_to,
        )
    if "function_score" in request:
        from .rescore import function_score_topk

        fs = request["function_score"]
        return function_score_topk(
            index, queries, _need_docs(docs, "function_score"), fs["field"],
            factor=float(fs.get("factor", 1.0)),
            boost_mode=fs.get("boost_mode", "multiply"), params=params,
            positive_only=positive_only, round_to=round_to,
        )
    if "rescore" in request:
        from .rescore import rescore_topk

        rs = request["rescore"]
        phrases = spark.createDataFrame(
            [(0, str(rs["phrase"]))], "query_id int, phrase string"
        )
        return rescore_topk(
            index, queries, _need_docs(docs, "rescore"), phrases,
            window_size=int(rs.get("window_size", 50)),
            query_weight=float(rs.get("query_weight", 1.0)),
            rescore_weight=float(rs.get("rescore_weight", 2.0)),
            params=params, positive_only=positive_only, round_to=round_to,
        )

    from pyspark.sql import functions as F

    from .bm25_dataframe import bm25_scores, rank_topk

    per_doc = bm25_scores(
        index.doc_terms, index.terms, queries, stats=index.stats,
        params=params, positive_only=positive_only,
    )
    if filt is not None:
        # ES filter context: non-scoring predicate; scores of surviving docs
        # are identical to the unfiltered query. The predicate pushes down to
        # the docs scan; the semi join keys on doc_id only.
        from ..operators.filters import compile_filters

        allowed = _need_docs(docs, "filter").where(compile_filters(filt)).select(
            "doc_id"
        )
        per_doc = per_doc.join(allowed, "doc_id", "left_semi")
    if round_to is not None:
        per_doc = per_doc.withColumn("score", F.round("score", round_to))
    return rank_topk(per_doc)


def _need_docs(docs: DataFrame | None, feature: str) -> DataFrame:
    if docs is None:
        raise ValueError(f"'{feature}' needs the docs DataFrame (doc attributes)")
    return docs
