"""Scatter-gather serving over partial indexes with EXACT global scoring.

The reference serves one monolithic in-memory index per process
(``/root/reference/src/neural_search/core/hybrid.py`` holds the whole corpus;
scaling out means rebuilding bigger). Distributed search engines instead
fan a query out over index partitions and merge the partial top-k lists —
but naive scatter-gather scores each partition with its LOCAL statistics,
which breaks rank identity (a term rare in one partition and common in
another gets two different idfs; Elasticsearch needs DFS-query-then-fetch
to fix this).

``MultiReader`` does the statistics exchange once at attach time instead of
per query: it combines the partial indexes' term dictionaries into GLOBAL
stats exactly the way a physical ``index/merge.py`` merge would —

    N       = sum of partial N                 (disjoint corpora)
    df(t)   = sum of partial df(t)             (exact, disjoint doc sets)
    avgdl   = sum of partial total-doc-length / N
    raw_idf = ln(N - df + 0.5) - ln(df + 0.5)  re-floored over the union
              vocabulary (epsilon * mean raw_idf)

— then every query scores each partition's postings with the global
idf/avgdl while tf/doc_len stay local. Per-partition results are exact
global scores, so merging the per-partition top-k lists IS the global
top-k: the whole thing is rank-identical to physically merging the
indexes (pinned in tests/test_serve.py against ``merge_indexes``), with
doc_ids reported in the merged index's id space (the same shard-aligned
offsets the physical merge assigns).

Replica shape at scale: each partition is a normal ``IndexReader`` (its
postings can live on separate machines); the combined dictionary is
vocabulary-sized state, refreshed when any partition commits.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from .serve import IndexReader


@dataclass
class MultiReader:
    roots: list[str]
    readers: list[IndexReader] = field(init=False)
    offsets: list[int] = field(init=False)
    idf: dict = field(init=False)
    avgdl: float = field(init=False)
    n_docs: int = field(init=False)

    def __post_init__(self) -> None:
        self.readers = [IndexReader(r) for r in self.roots]
        if not self.readers:
            raise ValueError("MultiReader needs at least one index")
        self.refresh()

    def refresh(self) -> None:
        """Recompute shard offsets + global stats from the current partial
        snapshots (call after any partition's maintenance commit)."""
        import pyarrow.parquet as pq
        import os

        first = self.readers[0].stats
        for rd in self.readers:
            rd.refresh()
            for key in ("k1", "b", "epsilon", "docs_per_shard"):
                if rd.stats[key] != first[key]:
                    raise ValueError(f"incompatible partial indexes: {key} differs")
            if (rd.stats.get("analyzer") or "") != (first.get("analyzer") or ""):
                raise ValueError("incompatible partial indexes: analyzer differs")

        # shard-aligned id offsets, identical to index/merge.py's assignment:
        # partition i+1 starts at the next free shard boundary after i
        span = int(first["docs_per_shard"])
        self.offsets = []
        next_free = 0
        for rd in self.readers:
            self.offsets.append(next_free)
            t = pq.read_table(
                os.path.join(rd.root, "docmap"), columns=["doc_id"]
            )
            max_id = max(t.column("doc_id").to_pylist())
            next_free += (max_id // span + 1) * span

        # global stats, merge-identical
        self.n_docs = sum(int(rd.stats["n_docs"]) for rd in self.readers)
        total_dl = sum(
            float(rd.stats["avgdl"]) * int(rd.stats["n_docs"]) for rd in self.readers
        )
        self.avgdl = total_dl / self.n_docs
        df: dict[str, int] = {}
        for rd in self.readers:
            for t, d in rd.df.items():
                df[t] = df.get(t, 0) + int(d)
        n = float(self.n_docs)
        raw = {t: math.log(n - d + 0.5) - math.log(d + 0.5) for t, d in df.items()}
        average_idf = sum(raw.values()) / len(raw) if raw else 0.0
        eps = float(first["epsilon"])
        self.idf = {
            t: (eps * average_idf if r < 0 else r) for t, r in raw.items()
        }

    def query(
        self,
        text: str,
        top_k: int = 10,
        positive_only: bool = True,
        score_rounding: int | None = None,
        offset: int = 0,
        allowed_docs=None,
        search_after: tuple[float, int] | None = None,
    ) -> list[tuple[int, float]]:
        """[(doc_id, score)] in the merged id space — global-stats BM25,
        (score desc, doc_id asc), identical to querying the physically
        merged index. ``allowed_docs`` / ``search_after`` take merged-space
        ids; both translate per partition (ids are local + offset, a
        monotone shift, so the shifted cursor comparison is exactly the
        global one)."""
        import numpy as np

        from ..functions.analyzers import analyze_tokens
        from ..functions.tokenize import tokenize_py

        if offset < 0:
            # each partition is scored for its top-(offset+top_k) with no
            # offset, so IndexReader._score's own check never sees it
            raise ValueError(f"offset must be >= 0, got {offset}")
        ana = self.readers[0].stats.get("analyzer") or ""
        counts: dict[str, int] = {}
        for t in analyze_tokens(tokenize_py(text), ana):
            counts[t] = counts.get(t, 0) + 1
        qterms = {
            t: (c, self.idf[t])
            for t, c in counts.items()
            if t in self.idf and (self.idf[t] != 0.0 or not positive_only)
        }
        if not qterms:
            return []
        allowed_arr = (
            np.asarray(sorted(set(int(d) for d in allowed_docs)), dtype=np.int64)
            if allowed_docs is not None
            else None
        )
        merged: list[tuple[int, float]] = []
        bounds = self.offsets[1:] + [None]
        for rd, off, end in zip(self.readers, self.offsets, bounds):
            local_allowed = None
            if allowed_arr is not None:
                part = allowed_arr[allowed_arr >= off]
                if end is not None:
                    part = part[part < end]
                local_allowed = part - off
                if local_allowed.size == 0:
                    continue
            local_after = (
                (search_after[0], int(search_after[1]) - off)
                if search_after is not None
                else None
            )
            # per-partition top-(offset+top_k) with GLOBAL idf/avgdl: each
            # partition can contribute at most that many global top rows
            local = rd._score(
                qterms, offset + top_k, positive_only, score_rounding,
                allowed=local_allowed, search_after=local_after,
                avgdl_override=self.avgdl,
            )
            merged.extend((d + off, s) for d, s in local)
        merged.sort(key=lambda x: (-x[1], x[0]))
        return merged[offset : offset + top_k]
