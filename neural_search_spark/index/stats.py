"""Global BM25 statistics — the two-pass aggregation (SURVEY.md §4.2.4).

The epsilon-floored IDF is *globally coupled*: ``average_idf`` is the mean of
raw idfs over the entire vocabulary, and every negative idf is floored to
``epsilon * average_idf`` (published rank-bm25 0.2.2 ``_calc_idf``; the
reference constructs it at ``/root/reference/src/neural_search/core/hybrid.py:72``).
So stats must be computed corpus-wide before any scoring:

  pass 1: N, avgdl (doc-level agg) and df/raw_idf per term (term-level agg)
  pass 2: average_idf (vocabulary-level agg, an exact decimal sum, so the
          stats do not depend on the partitioning) -> floor

Both aggregations are partial-agg friendly (map-side combine) and the floored
idf is a projection — no extra shuffle.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import BM25Params, DEFAULT_PARAMS
from ..functions.tokenize import doc_lengths


@dataclass(frozen=True)
class CorpusStats:
    n_docs: int
    avgdl: float
    average_idf: float
    k1: float
    b: float
    epsilon: float


def term_stats(doc_terms_df: DataFrame, n_docs: int) -> DataFrame:
    """(term, df, raw_idf): df = #docs containing term; idf = ln(N-df+.5)-ln(df+.5).

    doc_terms rows are unique per (doc_id, term), so ``count(*)`` IS the exact
    document frequency — no ``countDistinct`` shuffle amplification, and no
    ``approx_count_distinct`` (IDF must be exact for rank identity).
    """
    return doc_terms_df.groupBy("term").agg(F.count(F.lit(1)).alias("df")).select(
        "term",
        "df",
        (F.log(F.lit(float(n_docs)) - F.col("df") + 0.5) - F.log(F.col("df") + 0.5)).alias(
            "raw_idf"
        ),
    )


def mean_raw_idf(term_stats_df: DataFrame) -> float:
    """``average_idf``: the mean raw idf over the vocabulary, a function of
    the terms alone. A double ``avg`` adds in shuffle-arrival order, so its
    last bit moves with the partitioning (and with it every floored idf);
    here each raw idf is cast to ``decimal(38,18)``, whose sum is exact in
    any order, and the sum is divided in decimal on the driver, so the mean
    is rounded to a double once."""
    row = term_stats_df.agg(
        F.sum(F.col("raw_idf").cast("decimal(38,18)")).alias("total"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    return float(row["total"] / row["n"]) if row["n"] else 0.0


def floored_term_stats(
    term_stats_df: DataFrame, average_idf: float, params: BM25Params = DEFAULT_PARAMS
) -> DataFrame:
    """Apply the epsilon floor: negative raw idfs -> epsilon * average_idf."""
    eps = params.epsilon * average_idf
    return term_stats_df.select(
        "term",
        "df",
        "raw_idf",
        F.when(F.col("raw_idf") < 0, F.lit(eps)).otherwise(F.col("raw_idf")).alias("idf"),
    )


@dataclass
class BM25Index:
    """Logical index: DataFrames + scalar stats. Physical layout lives in build.py."""

    doc_terms: DataFrame  # (doc_id, term, tf, doc_len)
    terms: DataFrame  # (term, df, raw_idf, idf)
    stats: CorpusStats


def build_logical_index(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    params: BM25Params = DEFAULT_PARAMS,
    persist: bool = False,
) -> BM25Index:
    """Tokenize + global stats; returns unscored logical index DataFrames.

    ``persist=True`` caches the tokenized (doc_id, term, tf, doc_len) rows —
    without it the N/avgdl agg, the term-stats agg, and every downstream
    scoring query each re-tokenize the corpus. Use for interactive /
    multi-query sessions on corpora that fit the cache; the physical index
    (index/build.py) is the durable form at scale.
    """
    from ..functions.tokenize import doc_terms as doc_terms_fn

    dt = doc_terms_fn(corpus, id_col=id_col, text_col=text_col)
    if persist:
        dt = dt.persist()

    # N and avgdl over ALL docs (including zero-token docs, which have no
    # doc_terms rows but count toward corpus_size/avgdl in the reference).
    row = doc_lengths(corpus, id_col=id_col, text_col=text_col).agg(
        F.count(F.lit(1)).alias("n"), F.avg("doc_len").alias("avgdl")
    ).collect()[0]
    n_docs, avgdl = int(row["n"]), float(row["avgdl"] or 0.0)

    ts = term_stats(dt, n_docs)
    average_idf = mean_raw_idf(ts)

    terms = floored_term_stats(ts, average_idf, params)
    stats = CorpusStats(
        n_docs=n_docs,
        avgdl=avgdl,
        average_idf=average_idf,
        k1=params.k1,
        b=params.b,
        epsilon=params.epsilon,
    )
    return BM25Index(doc_terms=dt, terms=terms, stats=stats)
