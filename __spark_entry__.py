"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash). Implementations live in ``neural_search_spark/plans/driver_entry.py``
(and sibling modules); this file only routes.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from neural_search_spark.plans import driver_entry, pipeline_entry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: batch BM25 match-mode top-k over the sf0.001 documents table.

    (Match mode because the driver corpus's degenerate vocabulary floors every
    idf negative; the reference-parity score>0 variant — which is then empty on
    this corpus, exactly like the reference engine — is ``queries()['bm25_topk']``.)
    """
    return driver_entry.q_bm25_topk_all(spark, "/root/testdata/sf0.001")


# Gate rotation: the first 50 entries fill the 50-entry gate. Position 1 is
# emb_cosine_pairs, the one entry without a round-4/5 green stamp (last green
# in r03). Then the 3 entries the gate has not run since r02 (their indexed
# siblings are r03-green, but the gate itself must re-stamp them), then the
# r03-dated entries whose dependencies changed in r4 (histogram.py
# nbins-in-partial, cms.py cms_topk, sketches.py alpha cast), then the
# remaining r03 set: 1 + 3 + 7 + 39 = 50. Position 51 (the one slot cut by
# the cap) is events_sessions, green in the round-5 gate. The r04-green
# entries follow.
_PRIORITY = [
    # --- last green stamp in r03, the oldest of any entry ---
    "emb_cosine_pairs",
    # --- r02-stale (driver-unstamped for two rounds) ---
    "phrase_topk",
    "proximity_topk",
    "bm25_topk_stem",
    # --- r03-dated, dependencies changed in round 4 ---
    "sketch_quantiles",
    "events_windowed_quantiles",
    "sketch_heavy_hitters",
    "events_heavy_hitters",
    "facet_cardinality",
    "events_distinct_hll",
    "events_daily",
    # --- remaining r03-dated set ---
    "fuzzy_topk",
    "split_train_eval",
    "bm25_topk_stem_wand",
    "phrase_topk_indexed",
    "proximity_topk_indexed",
    "ordered_near_topk",
    "ordered_near_topk_indexed",
    "dedup_spans",
    "decontaminate",
    "ann_topk_sq8",
    "emb_near_dup_lsh",
    "select_token_budget",
    "text_perplexity",
    "text_dedup_lines",
    "text_strip_boilerplate",
    "text_scrub_pii",
    "pipeline_clean",
    "url_host_stats",
    "url_cap_per_domain",
    "url_sample_domains",
    "text_collocations",
    "pack_sequences",
    "pack_export",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_components",
    "dedup_simhash",
    "ann_topk_brute",
    "ann_topk_lsh",
    "ann_topk_ivf",
    "text_token_profile",
    "text_quality",
    "text_lang_id",
    "text_fingerprints",
    "text_repetition",
    "media_stats",
    "media_decode",
    "events_windowed",
    # --- slot 51, cut by the 50-entry gate cap ---
    "events_sessions",
    # --- r04-green (freshest; after the gate cap) ---
    "sketch_cardinality",
    "pack_chunks",
    "sketch_cardinality_large",
    "bm25_topk",
    "bm25_topk_wand",
    "bm25_topk_serve",
    "bm25_topk_all",
    "maintenance_equivalence",
    "search_orchestrated",
    "search_served",
    "search_reranked",
    "corpus_stats",
    "term_stats",
    "doc_terms",
    "doc_lengths",
    "filter_metadata",
    "point_lookup",
    "hybrid_fusion",
    "rrf_fusion",
    "search_eval",
    "phrase_bm25_topk",
    "bm25_topk_boost",
    "best_snippet",
    "facet_counts",
    "facet_histogram",
    "facet_percentiles",
    "facet_range",
    "facet_stats",
    "significant_terms",
    "merge_equivalence",
    "more_like_this",
    "more_like_this_serve",
    "term_suggest",
    "prefix_topk",
    "wildcard_topk",
    "bool_topk",
    "bool_topk_msm",
    "collapse_topk",
    "collapse_topk_serve",
    "function_score_topk",
    "boosting_topk",
    "rescore_topk",
    "dsl_topk",
    "lm_dirichlet_topk",
    "dis_max_topk",
    "percolate",
    "percolate_stateless",
    "bm25_topk_syn",
    "bm25_explain",
    "bm25f_topk",
]


def _ordered(merged: dict) -> dict:
    head = {k: merged[k] for k in _PRIORITY if k in merged}
    return {**head, **{k: v for k, v in merged.items() if k not in head}}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ordered({**driver_entry.base_queries(), **pipeline_entry.pipeline_queries()})


def oracle_sql() -> dict[str, str]:
    return _ordered({**driver_entry.base_oracles(), **pipeline_entry.pipeline_oracles()})
