"""Answer checks against the program's pure-Python BM25 oracle."""

from __future__ import annotations

import numpy as np


def oracle_for(corpus_table):
    """Oracle index whose doc ids are url ranks, as ``build_index`` assigns."""
    from neural_search_spark.oracle.bm25_oracle import build_oracle_index

    order = np.argsort(np.asarray(corpus_table.column("url").to_pylist(), dtype=object),
                       kind="stable")
    texts = corpus_table.column("text").to_pylist()
    return build_oracle_index([texts[i] for i in order])


def same_ranking(got: list[tuple], want: list[tuple], boundary: set | None = None) -> bool:
    """Tie-aware equality of two top-k lists of (doc_id, score).

    Scores must agree to 4 dp (within 5e-5) in rank order and every tie class
    but the last must hold the same ids. The last class may be cut at k
    differently: its ids need only lie in ``boundary`` (every doc with that
    score) when given, else the two cuts need only be the same size."""
    from neural_search_spark.oracle.bm25_oracle import as_tie_classes

    if len(got) != len(want) or any(abs(x - y) > 5e-5 for (_, x), (_, y) in zip(got, want)):
        return False
    a, b = as_tie_classes(got), as_tie_classes(want)
    if len(a) != len(b) or a[:-1] != b[:-1]:
        return False
    if not a:
        return True
    if boundary is not None:
        return a[-1] <= boundary and b[-1] <= boundary
    return len(a[-1]) == len(b[-1])


def oracle_mismatches(oracle, answers: dict[str, list[tuple]], k: int = 10) -> list[str]:
    """Queries in ``answers`` whose top-k differs from the oracle's."""
    from neural_search_spark.oracle.bm25_oracle import oracle_scores, oracle_topk

    bad = []
    for q, got in answers.items():
        want = oracle_topk(oracle, q, top_k=k)
        boundary = None
        if want:
            scores = oracle_scores(oracle, q)
            boundary = set(np.flatnonzero(np.isclose(scores, want[-1][1], rtol=1e-9,
                                                     atol=1e-12)).tolist())
        if not same_ranking(got, want, boundary):
            bad.append(q)
    return bad


def sample(items: list, n: int) -> list:
    """``n`` items evenly spaced over ``items`` (all of them if fewer)."""
    if len(items) <= n:
        return list(items)
    step = len(items) / n
    return [items[int(i * step)] for i in range(n)]
