"""Best-window snippet extraction (search-result highlighting).

The reference returns whole documents (``content`` passthrough in
``/root/reference/src/neural_search/api/search.py:112-128``); snippet
generation is the fulltext-index feature a serving layer puts in front of
that. Semantics (deterministic, oracle-checkable):

* Query = a set of terms Q, window = W tokens.
* Candidate starts are exactly the positions of matched query terms.
* ``hits(start)`` = number of DISTINCT query terms with a position in
  ``[start, start + W - 1]`` (1-based token positions).
* Best window per doc = max hits, ties broken by earliest start; docs with
  zero matches are dropped.
* ``snippet`` = the matched window's tokens joined by a single space
  (lowercased token stream — the normalized view the index stores).

One Arrow pass over the corpus (mapInPandas), zero shuffles: snippet choice
is per-doc embarrassingly parallel, so the whole operator is a map. The
per-doc scan is O(m * |Q| * log m) (bisect per candidate), never O(L^2) in
document length.
"""

from __future__ import annotations

from bisect import bisect_left
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .tokens import _TOKEN_RE

_SNIPPET_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("start", T.LongType()),
        T.StructField("n_hits", T.LongType()),
        T.StructField("snippet", T.StringType()),
    ]
)


def _best_window(
    toks: list[str], qterms: list[str], window: int
) -> tuple[int, int] | None:
    pos_by_term: dict[str, list[int]] = {t: [] for t in qterms}
    for i, tok in enumerate(toks):
        if tok in pos_by_term:
            pos_by_term[tok].append(i + 1)
    plists = [p for p in pos_by_term.values() if p]
    if not plists:
        return None
    starts = sorted({p for plist in plists for p in plist})
    best_start, best_hits = 0, 0
    for start in starts:
        end = start + window - 1
        hits = 0
        for plist in plists:
            j = bisect_left(plist, start)
            if j < len(plist) and plist[j] <= end:
                hits += 1
        if hits > best_hits:  # ties keep the earliest start (ascending scan)
            best_start, best_hits = start, hits
    return best_start, best_hits


def best_snippets(
    corpus: DataFrame,
    query_terms: list[str],
    window: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, start, n_hits, snippet) — the best W-token window per doc."""
    qterms = sorted({t.lower() for t in query_terms})
    src = corpus.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            starts: list[int] = []
            hits_out: list[int] = []
            snips: list[str] = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = _TOKEN_RE.findall(text.lower()) if isinstance(text, str) else []
                best = _best_window(toks, qterms, window)
                if best is None:
                    continue
                start, hits = best
                ids.append(doc_id)
                starts.append(start)
                hits_out.append(hits)
                snips.append(" ".join(toks[start - 1 : start - 1 + window]))
            yield pd.DataFrame(
                {"doc_id": ids, "start": starts, "n_hits": hits_out, "snippet": snips}
            )

    return src.mapInPandas(kernel, schema=_SNIPPET_SCHEMA)
