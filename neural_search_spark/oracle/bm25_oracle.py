"""Pure-Python BM25 oracle — the reference semantics in ~80 lines.

Reimplements, from the published algorithm description, rank-bm25 0.2.2's
``BM25Okapi`` (the dependency the reference pins at
``/root/reference/pyproject.toml:21`` and drives from
``/root/reference/src/neural_search/core/hybrid.py:54-147``) plus the
reference tokenizer and its argsort-top-k + positive-score filter
(``hybrid.py:133-147``). Every Spark path in this repo is tested for rank
identity against this oracle.

Key semantics preserved exactly:
  * idf(t) = ln(N - df + 0.5) - ln(df + 0.5)
  * average_idf = mean of *raw* idfs over the whole vocabulary; every negative
    idf is floored to epsilon * average_idf (globally coupled — one rare term
    shifts the floor of every common term).
  * query terms are scored per *occurrence* (duplicates count twice).
  * unknown query terms contribute 0 (`idf.get(q) or 0` — note `or`, so an
    exactly-zero idf also contributes 0).
  * top-k = argsort over all N docs, then drop scores <= 0.
"""

from __future__ import annotations

import math
from collections import Counter
from dataclasses import dataclass, field

import numpy as np

from ..config import BM25Params, DEFAULT_PARAMS
from ..functions.tokens import tokenize_py


@dataclass
class OracleIndex:
    params: BM25Params
    doc_ids: list  # external ids, insertion order
    doc_len: np.ndarray  # int, per doc
    avgdl: float
    corpus_size: int
    doc_freqs: list[dict[str, int]]  # per-doc term -> tf
    idf: dict[str, float] = field(default_factory=dict)  # floored
    average_idf: float = 0.0


def build_oracle_index(
    texts: list[str],
    doc_ids: list | None = None,
    params: BM25Params = DEFAULT_PARAMS,
) -> OracleIndex:
    tokenized = [tokenize_py(t) for t in texts]
    doc_len = np.array([len(t) for t in tokenized], dtype=np.float64)
    corpus_size = len(tokenized)
    avgdl = float(doc_len.sum()) / corpus_size if corpus_size else 0.0
    doc_freqs = [dict(Counter(toks)) for toks in tokenized]

    nd: dict[str, int] = {}
    for freqs in doc_freqs:
        for term in freqs:
            nd[term] = nd.get(term, 0) + 1

    idf: dict[str, float] = {}
    idf_sum = 0.0
    negative: list[str] = []
    for term, df in nd.items():
        v = math.log(corpus_size - df + 0.5) - math.log(df + 0.5)
        idf[term] = v
        idf_sum += v
        if v < 0:
            negative.append(term)
    average_idf = idf_sum / len(idf) if idf else 0.0
    eps = params.epsilon * average_idf
    for term in negative:
        idf[term] = eps

    return OracleIndex(
        params=params,
        doc_ids=list(doc_ids) if doc_ids is not None else list(range(corpus_size)),
        doc_len=doc_len,
        avgdl=avgdl,
        corpus_size=corpus_size,
        doc_freqs=doc_freqs,
        idf=idf,
        average_idf=average_idf,
    )


def oracle_scores(index: OracleIndex, query: str) -> np.ndarray:
    """BM25 scores for every document (the reference's full-corpus scan)."""
    p = index.params
    score = np.zeros(index.corpus_size)
    doc_len = index.doc_len
    for q in tokenize_py(query):  # per occurrence, like the reference
        q_freq = np.array([(doc.get(q) or 0) for doc in index.doc_freqs], dtype=np.float64)
        score += (index.idf.get(q) or 0) * (
            q_freq * (p.k1 + 1) / (q_freq + p.k1 * (1 - p.b + p.b * doc_len / index.avgdl))
        )
    return score


def oracle_topk(index: OracleIndex, query: str, top_k: int = 10) -> list[tuple]:
    """(doc_id, score) pairs: argsort top-k then positive-score filter."""
    scores = oracle_scores(index, query)
    top = np.argsort(scores)[-top_k:][::-1]
    return [(index.doc_ids[i], float(scores[i])) for i in top if scores[i] > 0]


def as_tie_classes(results: list[tuple], rel: float = 1e-9) -> list[set]:
    """Group a ranked (id, score) list into equal-score equivalence classes.

    np.argsort is unstable, so tie order among equal scores is unspecified in
    the reference; comparisons must treat ties as sets (SURVEY.md §5.2).
    """
    classes: list[set] = []
    prev: float | None = None
    for doc_id, score in results:
        if prev is not None and math.isclose(score, prev, rel_tol=rel, abs_tol=1e-12):
            classes[-1].add(doc_id)
        else:
            classes.append({doc_id})
        prev = score
    return classes
