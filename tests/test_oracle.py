"""Sanity tests of the pure-Python oracle against hand-computed BM25 values."""

from __future__ import annotations

import math

import pytest

from neural_search_spark.config import BM25Params
from neural_search_spark.oracle.bm25_oracle import (
    as_tie_classes,
    build_oracle_index,
    oracle_scores,
    oracle_topk,
)


def test_stats_basic():
    idx = build_oracle_index(["a b c", "a b", "a"])
    assert idx.corpus_size == 3
    assert idx.avgdl == pytest.approx(2.0)
    # df(a)=3, df(b)=2, df(c)=1
    raw_a = math.log(3 - 3 + 0.5) - math.log(3 + 0.5)
    raw_b = math.log(3 - 2 + 0.5) - math.log(2 + 0.5)
    raw_c = math.log(3 - 1 + 0.5) - math.log(1 + 0.5)
    avg = (raw_a + raw_b + raw_c) / 3
    assert idx.average_idf == pytest.approx(avg)
    eps = 0.25 * avg
    # a and b have negative raw idf -> floored; c stays raw
    assert idx.idf["a"] == pytest.approx(eps)
    assert idx.idf["b"] == pytest.approx(eps)
    assert idx.idf["c"] == pytest.approx(raw_c)


def test_hand_computed_score():
    p = BM25Params(k1=1.5, b=0.75)
    idx = build_oracle_index(["a b c", "a b", "a"], params=p)
    # score of query "c" on doc0: idf(c) * tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl))
    idf_c = math.log(2.5) - math.log(1.5)
    dl, avgdl, tf = 3.0, 2.0, 1.0
    expected = idf_c * (tf * 2.5) / (tf + 1.5 * (1 - 0.75 + 0.75 * dl / avgdl))
    scores = oracle_scores(idx, "c")
    assert scores[0] == pytest.approx(expected, rel=1e-12)
    assert scores[1] == 0.0 and scores[2] == 0.0


def test_unknown_term_contributes_zero():
    idx = build_oracle_index(["a b", "b c"])
    assert oracle_topk(idx, "zzz") == []
    s_known = oracle_scores(idx, "c")
    s_mixed = oracle_scores(idx, "c zzz")
    assert (s_known == s_mixed).all()


def test_repeated_query_term_counts_per_occurrence():
    idx = build_oracle_index(["a b c", "b c d", "c d e"])
    s1 = oracle_scores(idx, "a")
    s2 = oracle_scores(idx, "a a")
    assert s2 == pytest.approx(2 * s1)


def test_positive_score_filter_and_k():
    idx = build_oracle_index(["a b", "a c", "d e"])
    res = oracle_topk(idx, "a", top_k=10)
    ids = {d for d, _ in res}
    assert ids == {0, 1}  # doc 2 has score 0 -> filtered


def test_tie_classes():
    res = [(1, 2.0), (2, 2.0), (3, 1.0)]
    assert as_tie_classes(res) == [{1, 2}, {3}]


def test_rank_bm25_parity_if_installed():
    """If the real pinned dependency happens to be available, compare exactly."""
    rank_bm25 = pytest.importorskip("rank_bm25")
    from neural_search_spark.functions.tokens import tokenize_py

    texts = ["a b c a", "b c d", "c d e d", "a e", "f g h a b"]
    ref = rank_bm25.BM25Okapi([tokenize_py(t) for t in texts], k1=1.5, b=0.75)
    idx = build_oracle_index(texts)
    for q in ["a", "a b", "c d e", "zzz", "a a b"]:
        ours = oracle_scores(idx, q)
        theirs = ref.get_scores(tokenize_py(q))
        assert ours == pytest.approx(theirs, rel=1e-12)
