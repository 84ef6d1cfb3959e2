"""Query-time term boosting (Lucene ``term^2.5`` syntax).

The reference weights every query token equally (rank-bm25 ``get_scores``
sums per-occurrence contributions with no notion of importance;
``/root/reference/src/neural_search/core/hybrid.py:69-76``). Lucene/
Elasticsearch let the caller mark importance inline: ``title^3 body`` makes
a ``title`` match worth 3x. The natural BM25 generalization replaces the
per-occurrence query term frequency with a summed weight

    w(t) = sum over occurrences of t of boost_i        (plain term -> +1.0)
    score(q, d) = sum_t  w(t) * idf(t) * tf * (k1+1) / (tf + k1 * norm)

which reduces exactly to the flat engine when every boost is 1 (w = qtf).

Spark-first shape: identical to the flat one-shuffle batch plan — parsing
runs in an Arrow-batched pandas UDF on the (tiny) query side, the weighted
query-term table broadcasts into the posting join, and the score agg is
unchanged.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..config import BM25Params, DEFAULT_PARAMS
from ..functions.tokens import tokenize_py
from ..index.stats import BM25Index
from .bm25_dataframe import rank_topk

_BOOST_RE = re.compile(r"^(.*?)\^(\d+(?:\.\d+)?)$")


def parse_boosted_py(text: str | None) -> list[tuple[str, float]]:
    """Per-occurrence (term, boost) pairs, whitespace-chunked.

    A chunk ``foo^2.5`` applies boost 2.5 to every token ``foo`` yields
    under the reference tokenizer; a chunk without a valid trailing
    ``^number`` is tokenized whole at boost 1.0 (so a literal ``^`` in text
    degrades gracefully — ``\\w+`` drops it).
    """
    out: list[tuple[str, float]] = []
    if not text:
        return out
    for chunk in text.split():
        m = _BOOST_RE.match(chunk)
        if m:
            body, boost = m.group(1), float(m.group(2))
        else:
            body, boost = chunk, 1.0
        for term in tokenize_py(body):
            out.append((term, boost))
    return out


_PARSE_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("term", T.StringType()),
            T.StructField("boost", T.DoubleType()),
        ]
    )
)


@pandas_udf(_PARSE_SCHEMA)
def parse_boosted_udf(texts: pd.Series) -> pd.Series:
    return texts.map(parse_boosted_py)


def boosted_query_terms(queries: DataFrame) -> DataFrame:
    """(query_id, top_k, term, w): summed boost weight per distinct term."""
    has_k = "top_k" in queries.columns
    base = queries.select(
        "query_id",
        (F.col("top_k") if has_k else F.lit(10)).alias("top_k"),
        F.explode(parse_boosted_udf(F.col("query_text"))).alias("tb"),
    )
    return base.select(
        "query_id", "top_k", F.col("tb.term").alias("term"), F.col("tb.boost").alias("boost")
    ).groupBy("query_id", "top_k", "term").agg(F.sum("boost").alias("w"))


def bm25_topk_boosted(
    index: BM25Index,
    queries: DataFrame,
    params: BM25Params = DEFAULT_PARAMS,
    positive_only: bool = True,
    score_rounding: int | None = None,
) -> DataFrame:
    """Per-query boosted BM25 top-k: (query_id, rank, doc_id, score)."""
    qt = boosted_query_terms(queries)
    q_idf = qt.join(index.terms.select("term", "idf"), "term", "inner")
    k1, b, avgdl = params.k1, params.b, index.stats.avgdl
    tf = F.col("tf").cast("double")
    denom = tf + k1 * (1.0 - b + b * F.col("doc_len").cast("double") / F.lit(avgdl))
    scored = index.doc_terms.join(F.broadcast(q_idf), "term").select(
        "query_id",
        "top_k",
        "doc_id",
        (F.col("w") * F.col("idf") * (tf * (k1 + 1.0) / denom)).alias("contrib"),
    )
    per_doc = scored.groupBy("query_id", "top_k", "doc_id").agg(
        F.sum("contrib").alias("score")
    )
    if positive_only:
        per_doc = per_doc.where(F.col("score") > 0)
    if score_rounding is not None:
        per_doc = per_doc.withColumn("score", F.round("score", score_rounding))
    return rank_topk(per_doc)
