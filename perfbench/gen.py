"""Seeded inputs for the benchmark: a corpus and the workloads' query sets.

Everything is drawn from ``numpy.random.default_rng(seed)`` and written with
fixed pyarrow settings, so the same seed gives byte-identical files. The
program under test only ever sees these files.

Terms are ``w00000`` .. ``w{VOCAB-1}``; the suffix is the term's Zipf rank,
so "the 50 most frequent terms" and "ranks 500 and up" are exact sets.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ZIPF_S = 1.1
_EPOCH = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def term(rank: int) -> str:
    return f"w{rank:05d}"


def zipf_ranks(rng: np.random.Generator, size: int, vocab: int) -> np.ndarray:
    """0-based ranks from a Zipf(ZIPF_S) law truncated to ``vocab`` terms."""
    cdf = np.cumsum(1.0 / np.arange(1, vocab + 1) ** ZIPF_S)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(size), side="right"), vocab - 1)


def corpus_ranks(seed: int, n_docs: int, vocab: int) -> tuple[np.ndarray, np.ndarray]:
    """Doc lengths (20-400 tokens) and the term rank of every token."""
    rng = np.random.default_rng([seed, 1])
    lengths = rng.integers(20, 401, size=n_docs)
    return lengths, zipf_ranks(rng, int(lengths.sum()), vocab)


def corpus_table(lengths: np.ndarray, ranks: np.ndarray, seed: int) -> pa.Table:
    """``(url, warc_ts, html, text, lang)`` docs from ``corpus_ranks``."""
    names = [term(r) for r in range(int(ranks.max()) + 1)]
    words = [names[r] for r in ranks.tolist()]
    ends = np.cumsum(lengths).tolist()
    texts = [" ".join(words[e - n : e]) for n, e in zip(lengths.tolist(), ends)]
    # url order is the doc-id order build_index assigns; permute it against
    # generation order so ids are not the draw sequence
    n_docs = len(texts)
    perm = np.random.default_rng([seed, 5]).permutation(n_docs).tolist()
    urls = [f"https://site{p % 97}.example/page/{p:08d}" for p in perm]
    langs = ["en" if p % 10 else "de" for p in perm]
    html = [b"<html><body><p>" + t.encode() + b"</p></body></html>" for t in texts]
    ts = [_EPOCH + dt.timedelta(seconds=p) for p in perm]
    return pa.Table.from_arrays(
        [pa.array(urls), pa.array(ts, _SCHEMA.field("warc_ts").type),
         pa.array(html, pa.binary()), pa.array(texts), pa.array(langs)],
        schema=_SCHEMA,
    )


def _query(rng: np.random.Generator, pool: np.ndarray) -> str:
    n = int(rng.integers(1, 4))
    return " ".join(term(int(r)) for r in rng.choice(pool, size=n, replace=False))


def head_queries(seed: int, n: int, head: int, exclude: set[str]) -> list[str]:
    """Up to ``n`` distinct queries of 1-3 of the ``head`` most frequent terms,
    none equal (as a term set) to a query in ``exclude``.

    Distinct strings keep the replica's whole-result cache from answering;
    only its per-term postings cache can hit."""
    rng = np.random.default_rng([seed, 3])
    seen = {" ".join(sorted(q.split())) for q in exclude}
    # 1-3 term subsets of the head, as a ceiling on distinct queries
    n = min(n, head + head * (head - 1) // 2 + head * (head - 1) * (head - 2) // 6
            - len(seen))
    out: list[str] = []
    pool = np.arange(head)
    while len(out) < n:
        q = _query(rng, pool)
        key = " ".join(sorted(q.split()))
        if key not in seen:
            seen.add(key)
            out.append(q)
    return out


def head_warmup(head: int) -> list[str]:
    """Two-term queries that touch each of the ``head`` terms once."""
    half = head // 2
    return [f"{term(i)} {term(i + half)}" for i in range(half)]


def tail_queries(seed: int, n: int, pool: np.ndarray, stream: int = 4) -> list[str]:
    """``n`` distinct queries of 1-3 terms drawn uniformly from ``pool``."""
    rng = np.random.default_rng([seed, stream])
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        q = _query(rng, pool)
        key = " ".join(sorted(q.split()))
        if key not in seen:
            seen.add(key)
            out.append(q)
    return out


def write_inputs(root: str, corpus: pa.Table, queries: dict[str, list[str]]) -> dict:
    """Write ``corpus/part-0.parquet`` and one ``<name>.json`` per query list;
    return the paths by name (``corpus`` is the directory)."""
    os.makedirs(os.path.join(root, "corpus"), exist_ok=True)
    pq.write_table(corpus, os.path.join(root, "corpus", "part-0.parquet"),
                   compression="snappy", row_group_size=8192)
    paths = {"corpus": os.path.join(root, "corpus")}
    for name, qs in queries.items():
        paths[name] = os.path.join(root, f"{name}.json")
        with open(paths[name], "w") as f:
            json.dump(qs, f)
    return paths
