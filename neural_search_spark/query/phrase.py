"""Phrase (positional) queries over the corpus.

The reference engine is bag-of-words only (rank-bm25 ``get_scores`` consumes
unordered token multisets; ``/root/reference/src/neural_search/core/hybrid.py:69-76``),
so exact-phrase retrieval — the canonical *fulltext-index* feature — is a
beyond-reference operator. Semantics: a document matches phrase
``[t0 t1 ... tn-1]`` iff some token position ``p`` has ``tok[p+i] == ti`` for
all ``i``; ``phrase_tf`` is the number of such ``p``.

Spark-first design (no per-row Python in the match path):

* ``doc_term_positions`` — one Arrow pass (mapInPandas) emitting one row per
  *distinct* term per document with its sorted 1-based position list, i.e. a
  positional posting table. At cluster scale this is the table you persist
  (partitioned/bucketed by term) so the phrase filter below prunes to the
  phrase's own postings at the scan.
* ``phrase_topk`` — pure codegen from there: filter to the phrase terms
  (pushdown-able), broadcast-join the tiny (term, offset) phrase side, shift
  each position list by its offset (``transform``), and intersect the shifted
  lists per (phrase, doc) (``aggregate`` + ``array_intersect``). A surviving
  position is exactly a phrase start. One shuffle (the per-doc groupBy); the
  per-phrase top-k cut is a window over phrase_id, never a global sort.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.tokens import _TOKEN_RE, tokenize_py

_POSITIONS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("term", T.StringType()),
        T.StructField("positions", T.ArrayType(T.IntegerType())),
        T.StructField("doc_len", T.IntegerType()),
    ]
)


def doc_term_positions(
    corpus: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, term, positions array<int> 1-based ascending, doc_len).

    Same kernel shape as ``tokenize.doc_terms``: the positional combine
    happens inside the Arrow batch, so the downstream shuffle carries
    |doc| x |distinct terms| rows, each with a packed position list.
    """
    src = corpus.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids: list[int] = []
            terms: list[str] = []
            plists: list = []
            dls: list[int] = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = _TOKEN_RE.findall(text.lower()) if isinstance(text, str) else []
                if not toks:
                    continue
                # C-speed grouping: factorize tokens, stable-sort by code;
                # within-group position order stays ascending (stable sort
                # preserves the original scan order)
                codes, uniques = pd.factorize(np.asarray(toks, dtype=object))
                order = np.argsort(codes, kind="stable")
                positions = (order + 1).astype(np.int32)
                bounds = np.flatnonzero(np.diff(codes[order])) + 1
                per_term = np.split(positions, bounds)
                n = len(toks)
                ids.extend([doc_id] * len(uniques))
                terms.extend(uniques)
                plists.extend(per_term)
                dls.extend([n] * len(uniques))
            yield pd.DataFrame(
                {"doc_id": ids, "term": terms, "positions": plists, "doc_len": dls}
            )

    return src.mapInPandas(kernel, schema=_POSITIONS_SCHEMA)


def _phrase_terms_df(spark, phrases: list[tuple[int, str, int]]) -> DataFrame:
    """Explode phrases into (phrase_id, term, offset, n_terms, top_k) rows.

    Tokenized driver-side with the reference tokenizer — phrase sets are
    query-sized (broadcast side), never corpus-sized.
    """
    rows = []
    for pid, text, k in phrases:
        toks = tokenize_py(text)
        for off, term in enumerate(toks):
            rows.append((pid, term, off, len(toks), k))
    return spark.createDataFrame(
        rows, "phrase_id int, term string, offset int, n_terms int, top_k int"
    )


def phrase_match(
    positions: DataFrame, spark, phrases: list[tuple[int, str, int]]
) -> DataFrame:
    """(phrase_id, doc_id, phrase_tf, top_k) for docs containing each phrase.

    ``phrases`` is ``[(phrase_id, phrase_text, top_k), ...]``. A doc survives
    iff every (term, offset) pair of the phrase matched (``n_found ==
    n_terms`` — a repeated term at two offsets contributes two rows) and the
    offset-shifted position lists share at least one start position.
    """
    pterms = _phrase_terms_df(spark, phrases)
    all_terms = sorted({t for _, text, _ in phrases for t in tokenize_py(text)})

    matched = (
        # isin() before the join: at scale `positions` is the persisted
        # positional posting table and this predicate prunes the scan to the
        # phrase terms' postings.
        positions.where(F.col("term").isin(all_terms))
        .join(F.broadcast(pterms), "term")
        .select(
            "phrase_id",
            "doc_id",
            "n_terms",
            "top_k",
            F.transform("positions", lambda p: p - F.col("offset")).alias("shifted"),
        )
    )
    grouped = matched.groupBy("phrase_id", "doc_id").agg(
        F.count(F.lit(1)).alias("n_found"),
        F.first("n_terms").alias("n_terms"),
        F.first("top_k").alias("top_k"),
        F.collect_list("shifted").alias("shifted_lists"),
    )
    # Intersection fold; the init intersects the first list with itself,
    # which is a no-op because position lists are duplicate-free.
    inter = F.aggregate(
        "shifted_lists",
        F.element_at("shifted_lists", 1),
        lambda acc, x: F.array_intersect(acc, x),
    )
    return (
        grouped.where(F.col("n_found") == F.col("n_terms"))
        .withColumn("phrase_tf", F.size(inter))
        .where(F.col("phrase_tf") > 0)
        .select("phrase_id", "doc_id", "phrase_tf", "top_k")
    )


def proximity_match(
    positions: DataFrame, spark, queries: list[tuple[int, str, int, int]]
) -> DataFrame:
    """Unordered proximity ("near") match: minimal covering window per doc.

    ``queries`` is ``[(query_id, text, top_k, max_span), ...]``. A document
    matches iff some token window of length ``<= max_span`` contains at least
    one occurrence of every *distinct* query term (Lucene's unordered
    ``SpanNearQuery`` / the classic NEAR operator — the reference engine is
    bag-of-words and has no positional semantics at all, so this is a
    fulltext-index extension like ``phrase_topk``). Returns
    ``(query_id, doc_id, min_window, top_k)`` where ``min_window`` is the
    token length of the smallest covering window.

    Spark-first shape: prune the positional posting table to the query terms
    (scan-prunable predicate), broadcast-join the tiny (term, tid) query side,
    then one per-(query, doc) groupBy whose fold is the textbook linear
    min-cover scan — walk occurrences in position order keeping the last-seen
    position of each term id; whenever all are seen, ``pos - min(last) + 1``
    is a candidate window. Pure codegen (``aggregate``/``transform`` with an
    index lambda); integer arithmetic end-to-end, so the DuckDB oracle —
    which uses the independent brute-force occurrence-pair algorithm —
    agrees exactly with no rounding reconciliation.
    """
    rows = []
    for qid, text, k, span in queries:
        terms = sorted(set(tokenize_py(text)))
        for tid, term in enumerate(terms):
            rows.append((qid, term, tid, len(terms), k, span))
    qterms = spark.createDataFrame(
        rows,
        "query_id int, term string, tid int, n_terms int, top_k int, max_span int",
    )
    all_terms = sorted({r[1] for r in rows})

    occ = (
        positions.where(F.col("term").isin(all_terms))
        .join(F.broadcast(qterms), "term")
        .select(
            "query_id",
            "doc_id",
            "n_terms",
            "top_k",
            "max_span",
            F.explode("positions").alias("pos"),
            "tid",
        )
    )
    grouped = occ.groupBy("query_id", "doc_id").agg(
        F.first("n_terms").alias("n_terms"),
        F.first("top_k").alias("top_k"),
        F.first("max_span").alias("max_span"),
        F.sort_array(F.collect_list(F.struct("pos", "tid"))).alias("occ"),
    )
    init = F.struct(
        F.array_repeat(F.lit(-1), F.col("n_terms")).alias("last"),
        F.lit(2147483647).alias("best"),
    )

    def step(acc, x):
        new_last = F.transform(
            acc["last"],
            lambda v, i: F.when(i == x["tid"], x["pos"]).otherwise(v),
        )
        mn = F.array_min(new_last)
        cand = x["pos"] - mn + F.lit(1)
        new_best = F.when(mn >= 0, F.least(acc["best"], cand)).otherwise(acc["best"])
        return F.struct(new_last.alias("last"), new_best.alias("best"))

    folded = grouped.withColumn(
        "min_window", F.aggregate("occ", init, step)["best"]
    )
    return folded.where(F.col("min_window") <= F.col("max_span")).select(
        "query_id", "doc_id", "min_window", "top_k"
    )


def proximity_topk(
    positions: DataFrame, spark, queries: list[tuple[int, str, int, int]]
) -> DataFrame:
    """Per-query top-k by (min_window ASC, doc_id ASC) — tightest span first,
    deterministic ties. Window cut over query_id, never a global sort."""
    m = proximity_match(positions, spark, queries)
    w = Window.partitionBy("query_id").orderBy(F.asc("min_window"), F.asc("doc_id"))
    return (
        m.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.col("top_k"))
        .select(
            "query_id",
            F.col("rank").cast("long").alias("rank"),
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("min_window").cast("long").alias("min_window"),
        )
    )


def phrase_topk(
    positions: DataFrame, spark, phrases: list[tuple[int, str, int]]
) -> DataFrame:
    """Per-phrase top-k by (phrase_tf DESC, doc_id ASC) — deterministic ties.

    Window cut over phrase_id (query-cardinality partitions), not a global
    sort; mirrors the rank/top_k contract of the BM25 paths.
    """
    m = phrase_match(positions, spark, phrases)
    w = Window.partitionBy("phrase_id").orderBy(F.desc("phrase_tf"), F.asc("doc_id"))
    return (
        m.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.col("top_k"))
        .select(
            "phrase_id",
            F.col("rank").cast("long").alias("rank"),
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("phrase_tf").cast("long").alias("phrase_tf"),
        )
    )


# --- Phrase retrieval straight from the positional physical index ------------


def indexed_positions(index, terms: list[str]) -> DataFrame:
    """(doc_id, term, positions) decoded from a positional ``PhysicalIndex``.

    The ``term IN (...)`` predicate is pushed to the postings parquet scan
    (row-group pruning on term statistics, same shape as the WAND scan), so
    only the phrase's own posting blocks are read — at 10^12 docs the scan
    cost is the phrase terms' postings, not the corpus. Decode runs in the
    same Arrow applyInPandas shape as the maintenance decoder.
    """
    if not getattr(index, "positional", False):
        raise ValueError(
            "index stores no positions; rebuild with store_positions=True"
        )
    from ..index.codec import decode_postings

    span = index.docs_per_shard
    pf = index.postings.where(F.col("term").isin(list(terms))).select(
        "shard", "bucket", "term", "block_id", "first_doc_id", "n_docs", "deltas", "tfs",
        "positions",
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        out_d: list[int] = []
        out_t: list[str] = []
        out_p: list[list[int]] = []
        for (term, _shard), (ids, _tfs, plists) in decode_postings(pdf, span).items():
            out_d.extend(ids.tolist())
            out_t.extend([term] * len(ids))
            out_p.extend([p.astype(np.int32) for p in plists])
        return pd.DataFrame({"doc_id": out_d, "term": out_t, "positions": out_p})

    return pf.groupBy("shard", "bucket").applyInPandas(
        kernel, schema="doc_id long, term string, positions array<int>"
    )


def phrase_topk_indexed(
    index, spark, phrases: list[tuple[int, str, int]]
) -> DataFrame:
    """``phrase_topk`` served from the positional physical index: decode the
    phrase terms' blocks, then run the SAME codegen match plan — semantics
    are identical to the corpus-scan path by construction. Phrase tokens
    pass through the index's bound analyzer (``functions/analyzers.py``)."""
    from ..functions.analyzers import analyze_tokens

    ana = getattr(index, "analyzer", "")
    if ana:
        phrases = [
            (pid, " ".join(analyze_tokens(tokenize_py(text), ana)), k)
            for pid, text, k in phrases
        ]
    all_terms = sorted({t for _pid, text, _k in phrases for t in tokenize_py(text)})
    pos = indexed_positions(index, all_terms)
    return phrase_topk(pos, spark, phrases)


def proximity_topk_indexed(
    index, spark, queries: list[tuple[int, str, int, int]]
) -> DataFrame:
    """``proximity_topk`` served from the positional physical index — same
    decode-only-the-query-terms scan as ``phrase_topk_indexed``, same
    codegen min-cover fold; query tokens pass through the index's bound
    analyzer."""
    from ..functions.analyzers import analyze_tokens

    ana = getattr(index, "analyzer", "")
    if ana:
        queries = [
            (qid, " ".join(analyze_tokens(tokenize_py(text), ana)), k, span)
            for qid, text, k, span in queries
        ]
    all_terms = sorted(
        {t for _qid, text, _k, _s in queries for t in tokenize_py(text)}
    )
    pos = indexed_positions(index, all_terms)
    return proximity_topk(pos, spark, queries)


# --- Ordered proximity (phrase-with-slop / ordered SpanNear) ------------------


def ordered_near_match(
    positions: DataFrame, spark, queries: list[tuple[int, str, int, int]]
) -> DataFrame:
    """Ordered proximity: the query terms must appear IN ORDER within a
    token window (Lucene ``SpanNearQuery(inOrder=true)`` / the sloppy-phrase
    family). ``queries`` is ``[(query_id, text, top_k, max_span)]``; a doc
    matches iff positions p_1 < p_2 < ... < p_n exist for the query's terms
    in sequence with ``p_n - p_1 + 1 <= max_span``; ``min_window`` is the
    smallest such span. ``max_span = n`` degenerates to the exact phrase.

    Linear chain DP as a codegen fold (same shape as ``proximity_match``'s
    min-cover): walk occurrences in position order keeping, for each query
    slot k, the best (latest) start of a chain covering slots 0..k whose
    k-th element ends at/before the current position; an occurrence of the
    LAST slot closes a chain and ``pos - chain_start + 1`` is a candidate.
    Repeated terms occupy multiple slots independently (aab is matchable).
    """
    rows = []
    for qid, text, k, span in queries:
        toks = tokenize_py(text)
        for slot, term in enumerate(toks):
            rows.append((qid, term, slot, len(toks), k, span))
    qterms = spark.createDataFrame(
        rows,
        "query_id int, term string, slot int, n_terms int, top_k int, max_span int",
    )
    all_terms = sorted({r[1] for r in rows})

    occ = (
        positions.where(F.col("term").isin(all_terms))
        .join(F.broadcast(qterms), "term")
        .select(
            "query_id",
            "doc_id",
            "n_terms",
            "top_k",
            "max_span",
            F.explode("positions").alias("pos"),
            "slot",
        )
    )
    grouped = occ.groupBy("query_id", "doc_id").agg(
        F.first("n_terms").alias("n_terms"),
        F.first("top_k").alias("top_k"),
        F.first("max_span").alias("max_span"),
        # (pos asc, slot desc): at one position, later slots must fold first
        # so a slot can't chain to a same-position earlier slot (strict <)
        F.sort_array(
            F.collect_list(F.struct("pos", (-F.col("slot")).alias("nslot")))
        ).alias("occ"),
    )
    init = F.struct(
        F.array_repeat(F.lit(-1), F.col("n_terms")).alias("starts"),
        F.lit(2147483647).alias("best"),
    )

    def step(acc, x):
        slot = -x["nslot"]
        prev_start = F.when(
            slot == 0, x["pos"]
        ).otherwise(F.element_at(acc["starts"], slot))  # 1-based: slot-1 idx
        new_starts = F.transform(
            acc["starts"],
            lambda v, i: F.when(
                (i == slot) & (prev_start >= 0), F.greatest(v, prev_start)
            ).otherwise(v),
        )
        closes = (slot == F.size(acc["starts"]) - 1) & (prev_start >= 0)
        cand = x["pos"] - prev_start + F.lit(1)
        new_best = F.when(closes, F.least(acc["best"], cand)).otherwise(acc["best"])
        return F.struct(new_starts.alias("starts"), new_best.alias("best"))

    folded = grouped.withColumn(
        "min_window", F.aggregate("occ", init, step)["best"]
    )
    return folded.where(F.col("min_window") <= F.col("max_span")).select(
        "query_id", "doc_id", "min_window", "top_k"
    )


def ordered_near_topk(
    positions: DataFrame, spark, queries: list[tuple[int, str, int, int]]
) -> DataFrame:
    """Per-query ordered-proximity top-k by (min_window ASC, doc_id ASC)."""
    m = ordered_near_match(positions, spark, queries)
    w = Window.partitionBy("query_id").orderBy(F.asc("min_window"), F.asc("doc_id"))
    return (
        m.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.col("top_k"))
        .select(
            "query_id",
            F.col("rank").cast("long").alias("rank"),
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("min_window").cast("long").alias("min_window"),
        )
    )


def ordered_near_topk_indexed(
    index, spark, queries: list[tuple[int, str, int, int]]
) -> DataFrame:
    """Ordered proximity served from the positional physical index."""
    from ..functions.analyzers import analyze_tokens

    ana = getattr(index, "analyzer", "")
    if ana:
        queries = [
            (qid, " ".join(analyze_tokens(tokenize_py(text), ana)), k, span)
            for qid, text, k, span in queries
        ]
    all_terms = sorted(
        {t for _qid, text, _k, _s in queries for t in tokenize_py(text)}
    )
    pos = indexed_positions(index, all_terms)
    return ordered_near_topk(pos, spark, queries)


# --- Phrase-scored retrieval (PhraseQuery ranking, not just matching) ---------


def phrase_bm25_topk(
    positions: DataFrame,
    doc_lengths: DataFrame,
    spark,
    phrases: list[tuple[int, str, int]],
    n_docs: int,
    avgdl: float,
    k1: float = 1.5,
    b: float = 0.75,
    score_rounding: int | None = None,
) -> DataFrame:
    """Rank docs by a BM25 score of the PHRASE itself (Lucene PhraseQuery
    scoring): the phrase acts as one synthetic term whose tf is
    ``phrase_tf`` and whose df is the number of docs containing the phrase,

        idf_p  = ln(N - df_p + 0.5) - ln(df_p + 0.5)
        score  = idf_p * phrase_tf * (k1 + 1)
                 / (phrase_tf + k1 * (1 - b + b * dl / avgdl))

    so rare multi-word expressions rank far above common ones — matching
    alone (``phrase_topk``) orders only by raw phrase_tf. The phrase df is
    computed from the match set itself (exact, no index extension needed);
    ``(score desc, doc_id asc)`` with optional rounded-rank reconciliation.
    """
    m = phrase_match(positions, spark, phrases)
    df_p = m.groupBy("phrase_id").agg(F.count(F.lit(1)).alias("df_p"))
    idf = df_p.select(
        "phrase_id",
        (
            F.log(F.lit(float(n_docs)) - F.col("df_p") + 0.5)
            - F.log(F.col("df_p") + 0.5)
        ).alias("idf_p"),
    )
    tf = F.col("phrase_tf").cast("double")
    denom = tf + k1 * (1.0 - b + b * F.col("doc_len").cast("double") / F.lit(avgdl))
    scored = (
        m.join(F.broadcast(idf), "phrase_id")
        .join(doc_lengths, "doc_id")
        .select(
            "phrase_id",
            "top_k",
            "doc_id",
            (F.col("idf_p") * (tf * (k1 + 1.0) / denom)).alias("score"),
        )
    )
    if score_rounding is not None:
        scored = scored.withColumn("score", F.round("score", score_rounding))
    w = Window.partitionBy("phrase_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.col("top_k"))
        .select(
            "phrase_id",
            F.col("rank").cast("long").alias("rank"),
            F.col("doc_id").cast("long").alias("doc_id"),
            "score",
        )
    )
