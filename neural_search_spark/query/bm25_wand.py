"""Query engine over the sharded compressed index: block-max WAND top-k.

The reference scores every document for every query term
(rank-bm25 ``get_scores``, called at
``/root/reference/src/neural_search/core/hybrid.py:137`` — O(N·|q|) per
query). Here each shard prunes with per-block max-score bounds and still
returns *exact* local top-k, so the global merge (shards × k rows per query)
is rank-identical to full scoring (north-rule requirement: pruning must be
provably rank-safe).

Pruning scheme — block-max windowed WAND (a BMW variant shaped for columnar
batches): the shard's doc range is cut into fixed windows; each window's
upper bound U_w = Σ_t qtf_t · max(0, max block score bound of t overlapping w),
where each block bound is computed at query time from the stats-independent
(max_tf, min_dl) metadata and the CURRENT idf/avgdl (codec.block_score_bound).
Windows are visited in descending U_w; once the running top-k threshold θ
(kth best exact score so far, 0 until the heap fills) satisfies θ ≥ U_w, all
remaining windows are provably below the kth result and are skipped without
decoding. Within a visited window, scoring is exact, dense, and vectorized:
one multiply per posting of ``qtf * idf`` by the posting's BM25 saturation
(``codec.bm25_saturation``), computed once per decoded (term, shard) chain
for the whole query batch from the shard's doc_len array. Blocks decode
through ``codec.decode_postings``, the one owner of the block-chain format
(shared with the serving replica, phrase retrieval and maintenance), and
each window scores in one ``codec.bm25_score_range`` call, the accumulator
the replica runs per shard over its cached saturations: terms add in
sorted-term order on both paths, so the two agree bit for bit. The max(0, ·)
clamp keeps the bound valid even if an epsilon-floored idf is negative
(average_idf < 0), where a doc *lacking* the term outscores one containing it.

Execution shape: ``postings.filter(term ∈ query_terms)`` (pushed to the
parquet scan — shard dirs + row-group pruning) → cogroup with docmap by shard
→ applyInPandas kernel → per-shard candidates → global per-query window
top-k. Query spec (terms, idf, qtf, k) is driver-collected and closure-
broadcast: queries are few; batch mode over huge query sets is the
``bm25_dataframe`` join path (reference Q10).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.tokenize import tokenize_py
from .bm25_dataframe import rank_topk

_WINDOW_DOCS = 2048


def _query_specs(
    queries_rows, terms_df, positive_only=True, analyzer: str = ""
) -> tuple[list[dict], list[str]]:
    """Driver-side: tokenize queries, look up idfs for the touched vocabulary.

    ``analyzer`` is the index-time analysis fold recorded in the index
    (``functions/analyzers.py``); query tokens are folded identically so
    both sides live in the same term space."""
    from ..functions.analyzers import analyze_tokens

    all_terms: set[str] = set()
    specs = []
    for row in queries_rows:
        toks = analyze_tokens(tokenize_py(row["query_text"]), analyzer)
        counts: dict[str, int] = {}
        for t in toks:
            counts[t] = counts.get(t, 0) + 1
        specs.append(
            {
                "query_id": row["query_id"],
                "top_k": int(row["top_k"]) if "top_k" in row and row["top_k"] is not None else 10,
                "terms": counts,
            }
        )
        all_terms.update(counts)
    if not all_terms:
        return specs, []
    idf_rows = (
        terms_df.where(F.col("term").isin(list(all_terms))).select("term", "idf").collect()
    )
    idf = {r["term"]: float(r["idf"]) for r in idf_rows}
    for s in specs:
        # unknown terms contribute 0 (reference `idf.get(q) or 0`) -> drop;
        # exactly-zero idf also scores 0, but in match mode the doc must still
        # become a candidate (parity with the DF path's inner join on term)
        s["terms"] = {
            t: (c, idf[t])
            for t, c in s["terms"].items()
            if t in idf and (idf[t] != 0.0 or not positive_only)
        }
    return specs, sorted(all_terms & set(idf))


def _shard_kernel(
    specs,
    k1,
    b,
    avgdl,
    docs_per_shard,
    window_docs=_WINDOW_DOCS,
    positive_only=True,
    visited_acc=None,
    total_acc=None,
):
    from ..index import codec

    def fn(postings_pdfs, docmap_pdfs) -> pd.DataFrame:
        postings = pd.concat(list(postings_pdfs), ignore_index=True) if postings_pdfs is not None else None
        docmap = pd.concat(list(docmap_pdfs), ignore_index=True)
        out_q, out_d, out_s = [], [], []
        if postings is None or len(postings) == 0 or len(docmap) == 0:
            return pd.DataFrame({"query_id": out_q, "doc_id": out_d, "score": out_s})
        shard = int(postings["shard"].iloc[0])
        base = shard * docs_per_shard

        # shard-local doc_len array
        dl = np.zeros(docs_per_shard, dtype=np.float64)
        local = docmap["doc_id"].to_numpy() - base
        dl[local] = docmap["doc_len"].to_numpy()

        # per-term idf for bound computation (block metadata is
        # stats-independent; bounds use CURRENT idf/avgdl — codec.py)
        term_idf = {}
        for spec in specs:
            for t, (_qtf, idf) in spec["terms"].items():
                term_idf[t] = idf

        # each decoded chain as (ids, saturation), once for the whole batch,
        # and each term's per-block meta + bounds
        saturated = {
            t: (ids, codec.bm25_saturation(tfs, dl[ids - base], k1, b, avgdl))
            for (t, _), (ids, tfs) in codec.decode_postings(postings, docs_per_shard).items()
        }
        by_term: dict[str, dict] = {}
        for term, g in postings.groupby("term", sort=False):
            by_term[term] = {
                "first": g["first_doc_id"].to_numpy(),
                "last": g["last_doc_id"].to_numpy(),
                "max": codec.block_score_bound(
                    g["max_tf"].to_numpy(),
                    g["min_dl"].to_numpy(),
                    term_idf.get(term, 0.0),
                    k1,
                    b,
                    avgdl,
                ),
            }

        n_windows = -(-docs_per_shard // window_docs)
        for spec in specs:
            # sorted by term: the window bounds add terms in the order
            # codec.bm25_score_range adds the exact scores
            qterms = sorted(
                (t, qtf, idf) for t, (qtf, idf) in spec["terms"].items() if t in by_term
            )
            if not qterms:
                continue
            k = spec["top_k"]
            chains = {t: (*saturated[t], qtf * idf) for t, qtf, idf in qterms}

            # window upper bounds: each block adds its (clamped) max to every
            # window it overlaps
            ub = np.zeros(n_windows, dtype=np.float64)
            for t, qtf, idf in qterms:
                meta = by_term[t]
                t_ub = np.zeros(n_windows, dtype=np.float64)
                w0 = (meta["first"] - base) // window_docs
                w1 = (meta["last"] - base) // window_docs
                for j in range(len(w0)):
                    m = meta["max"][j]
                    if w1[j] >= w0[j]:
                        t_ub[w0[j] : w1[j] + 1] = np.maximum(t_ub[w0[j] : w1[j] + 1], m)
                ub += qtf * np.maximum(t_ub, 0.0)

            order = np.argsort(-ub, kind="stable")
            scores_acc: list[np.ndarray] = []
            ids_acc: list[np.ndarray] = []
            # positive mode: θ starts at 0 — the reference's score>0 cut means
            # a window can be skipped as soon as its bound is non-positive.
            # match mode (positive_only=False): θ starts at -inf and a window
            # is only skippable once the heap holds k exact scores above its
            # bound (with all-negative idfs the clamped bounds are 0, so no
            # window prunes — correct, just unpruned on degenerate corpora).
            theta = 0.0 if positive_only else -np.inf
            heap_scores = np.zeros(0, dtype=np.float64)
            if total_acc is not None:
                total_acc.add(len(order))
            for w in order:
                # strict <: a window with U_w == θ may still hold a kth-place
                # tie, and the deterministic tie-break needs to see it
                if ub[w] < theta or (positive_only and ub[w] <= 0.0):
                    break  # remaining windows are provably below the kth score
                if visited_acc is not None:
                    visited_acc.add(1)
                lo = base + w * window_docs
                cand, cscores = codec.bm25_score_range(
                    chains, lo, lo + window_docs, positive_only
                )
                if cand.size == 0:
                    continue
                scores_acc.append(cscores)
                ids_acc.append(cand)
                heap_scores = np.concatenate([heap_scores, cscores])
                if heap_scores.size > k:
                    heap_scores = np.partition(heap_scores, -k)[-k:]
                if heap_scores.size >= k:
                    theta = float(heap_scores.min())

            if not scores_acc:
                continue
            all_scores = np.concatenate(scores_acc)
            all_ids = np.concatenate(ids_acc)
            if all_ids.size > k:
                # exact local top-k with deterministic (score desc, doc_id asc)
                sel = np.lexsort((all_ids, -all_scores))[:k]
            else:
                sel = np.arange(all_ids.size)
            out_q.extend([spec["query_id"]] * len(sel))
            out_d.extend(all_ids[sel].tolist())
            out_s.extend(all_scores[sel].tolist())
        return pd.DataFrame({"query_id": out_q, "doc_id": out_d, "score": out_s})

    return fn


def bm25_topk_wand(
    index,
    queries: DataFrame,
    positive_only: bool = True,
    pruning_stats: dict | None = None,
    window_docs: int = _WINDOW_DOCS,
) -> DataFrame:
    """(query_id, rank, doc_id, score) — rank-identical to full BM25 scoring.

    ``index`` is a ``PhysicalIndex`` (see index/build.py). ``positive_only``
    mirrors the reference's score>0 cut; False = match-mode ranking (every doc
    matching >=1 known query term is eligible), same as
    ``bm25_scores(..., positive_only=False)``.

    ``pruning_stats``: pass a dict and, after an action runs on the result,
    read ``pruning_stats["visited"].value`` / ``["total"].value`` — Spark
    accumulators counting candidate windows actually scored vs considered
    across all (query, shard) pairs. Observability for the BMW skip rate.
    """
    spark = queries.sparkSession
    q_rows = [r.asDict() for r in queries.collect()]
    specs, touched_terms = _query_specs(
        q_rows, index.terms, positive_only=positive_only,
        analyzer=getattr(index, "analyzer", ""),
    )
    if not touched_terms:
        return spark.createDataFrame([], "query_id int, rank int, doc_id long, score double")

    s = index.stats
    pf = index.postings.where(F.col("term").isin(touched_terms)).select(
        "shard", "term", "block_id", "first_doc_id", "last_doc_id", "n_docs",
        "max_tf", "min_dl", "deltas", "tfs",
    )
    dm = index.docmap.select("shard", "doc_id", "doc_len")
    visited_acc = total_acc = None
    if pruning_stats is not None:
        sc = spark.sparkContext
        visited_acc = sc.accumulator(0)
        total_acc = sc.accumulator(0)
        pruning_stats["visited"] = visited_acc
        pruning_stats["total"] = total_acc
    kernel = _shard_kernel(
        specs,
        s.k1,
        s.b,
        s.avgdl,
        index.docs_per_shard,
        window_docs=window_docs,
        positive_only=positive_only,
        visited_acc=visited_acc,
        total_acc=total_acc,
    )
    candidates = (
        pf.groupBy("shard")
        .cogroup(dm.groupBy("shard"))
        .applyInPandas(
            lambda left, right: kernel([left], [right]),
            schema="query_id int, doc_id long, score double",
        )
    )
    ks = {spec["query_id"]: spec["top_k"] for spec in specs}
    k_df = spark.createDataFrame(
        [(q, k) for q, k in ks.items()], "query_id int, top_k int"
    )
    with_k = candidates.join(F.broadcast(k_df), "query_id")
    return rank_topk(with_k)
