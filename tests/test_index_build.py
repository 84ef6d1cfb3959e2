"""Physical index: build determinism, resume-equivalence, metrics lineage,
and WAND rank-identity vs the oracle (multi-shard forced)."""

from __future__ import annotations

import glob
import os

import pytest

from neural_search_spark.config import IndexLayout
from neural_search_spark.corpus import REFERENCE_QUERIES, queries_df
from neural_search_spark.index.build import build_index, load_index
from neural_search_spark.oracle.bm25_oracle import (
    as_tie_classes,
    build_oracle_index,
    oracle_topk,
)

# small shards/blocks force multi-shard, multi-block paths on 200 docs
LAYOUT = IndexLayout(docs_per_shard=64, block_size=16)


@pytest.fixture(scope="module")
def built(spark, corpus_small, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("index"))
    idx = build_index(corpus_small, out, layout=LAYOUT, n_buckets=8)
    return idx


@pytest.fixture(scope="module")
def oracle(corpus_pdf_small):
    ordered = corpus_pdf_small.sort_values("url").reset_index(drop=True)
    return build_oracle_index(list(ordered["text"]))


def test_layout_and_stats(built, oracle):
    assert built.stats.n_docs == oracle.corpus_size
    assert built.stats.avgdl == pytest.approx(oracle.avgdl, rel=1e-12)
    assert built.stats.average_idf == pytest.approx(oracle.average_idf, rel=1e-12)
    shards = sorted(r["shard"] for r in built.postings.select("shard").distinct().collect())
    assert shards == [0, 1, 2, 3]  # 200 docs / 64 per shard


def test_postings_file_layout(built, check_postings_layout):
    """One term-sorted zstd file per shard (index/build.py:_write_postings)."""
    assert sorted(check_postings_layout(built.paths.postings)) == [0, 1, 2, 3]


def test_postings_row_groups_capped_and_pruned(spark, corpus_small, tmp_path,
                                               check_postings_layout):
    """One 200-doc shard with 4-doc blocks holds more rows than one row
    group may: the build splits it into term-ordered row groups, and the
    replica reads only the row group that holds a one-block term."""
    from neural_search_spark.query.serve import IndexReader

    idx = build_index(
        corpus_small, str(tmp_path / "idx"),
        layout=IndexLayout(docs_per_shard=256, block_size=4), n_buckets=8,
    )
    n_groups = check_postings_layout(idx.paths.postings)[0]
    assert n_groups >= 2
    reader = IndexReader(idx.paths.root)
    rare = min(t for t, df in reader.df.items() if df == 1)
    assert len(reader.query(rare)) == 1
    assert reader.postings_read == {
        "row_groups_read": 1, "row_group_hits": 0, "row_groups_total": n_groups,
        "files": 1,
        "row_group_cache_bytes": sum(g.nbytes for g in reader._rg_cache.values()),
    }


def test_postings_roundtrip_vs_doc_terms(spark, built, corpus_small):
    """Decoding every posting block reproduces the logical (doc_id, term, tf)."""
    import numpy as np

    from neural_search_spark.functions.tokenize import doc_terms
    from neural_search_spark.index.codec import decode_ints
    from neural_search_spark.index.docmap import assign_doc_ids

    expected = {
        (r["doc_id"], r["term"]): r["tf"]
        for r in doc_terms(assign_doc_ids(corpus_small)).collect()
    }
    got = {}
    rows = built.postings.collect()
    by_term_shard: dict = {}
    for r in rows:
        by_term_shard.setdefault((r["shard"], r["term"]), []).append(r)
    for (shard, term), blocks in by_term_shard.items():
        prev = shard * LAYOUT.docs_per_shard
        for blk in sorted(blocks, key=lambda x: x["block_id"]):
            deltas = decode_ints(bytes(blk["deltas"]), blk["n_docs"]).astype(np.int64)
            ids = np.cumsum(deltas) + prev
            prev = int(ids[-1])
            tfs = decode_ints(bytes(blk["tfs"]), blk["n_docs"])
            for d, t in zip(ids, tfs):
                got[(int(d), term)] = int(t)
    assert got == expected


def test_wand_rank_identity(spark, built, oracle):
    from neural_search_spark.query.bm25_wand import bm25_topk_wand

    res = bm25_topk_wand(built, queries_df(spark)).collect()
    by_q: dict = {}
    for r in sorted(res, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, qtext, k in REFERENCE_QUERIES:
        want = oracle_topk(oracle, qtext, top_k=k)
        got = by_q.get(qid, [])
        assert len(got) == len(want), f"q{qid}"
        assert as_tie_classes(got) == as_tie_classes(want), f"q{qid}"
        for (gd, gs), (od, os_) in zip(
            sorted(got, key=lambda x: (-x[1], x[0])), sorted(want, key=lambda x: (-x[1], x[0]))
        ):
            assert gs == pytest.approx(os_, rel=1e-9), f"q{qid}"


def test_build_determinism(spark, corpus_small, tmp_path):
    """Two builds of the same snapshot produce byte-identical posting blocks,
    and neither leaves a persisted RDD behind (the id assignment's range
    partitioning and the tokenization are released)."""
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    a = build_index(corpus_small, str(tmp_path / "a"), layout=LAYOUT, n_buckets=8)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted
    b = build_index(corpus_small, str(tmp_path / "b"), layout=LAYOUT, n_buckets=8)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted

    def blocks(idx):
        return sorted(
            (
                (r["shard"], r["term"], r["block_id"], bytes(r["deltas"]), bytes(r["tfs"]),
                 r["max_tf"], r["min_dl"], r["first_doc_id"], r["last_doc_id"], r["n_docs"])
                for r in idx.postings.collect()
            )
        )

    assert blocks(a) == blocks(b)


@pytest.mark.parametrize("num_partitions", [1, 3, 64])
def test_assign_doc_ids_is_url_rank_without_python(spark, num_partitions):
    """doc_id is the url's 0-based rank for any partition count, including
    more partitions than rows (most of them empty), and the id projection
    runs no Python: the plan holds no pandas or Python UDF node."""
    import random

    from neural_search_spark.index.docmap import assign_doc_ids, release_doc_ids

    rng = random.Random(num_partitions)
    urls = [f"https://h{rng.randrange(9)}.example/{rng.randrange(10**6)}" for _ in range(37)]
    urls = list(dict.fromkeys(urls))
    corpus = spark.createDataFrame([(u, "w0005") for u in urls], "url string, text string")
    with_ids = assign_doc_ids(corpus, num_partitions=num_partitions)
    try:
        assert with_ids.columns == ["doc_id", "url", "text"]
        assert not with_ids.schema["doc_id"].nullable
        got = {r["url"]: r["doc_id"] for r in with_ids.collect()}
        assert got == {u: i for i, u in enumerate(sorted(urls))}
        plan = with_ids._jdf.queryExecution().executedPlan().toString()
        for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
            assert node not in plan, plan
    finally:
        release_doc_ids(with_ids)

    empty = assign_doc_ids(corpus.limit(0), num_partitions=num_partitions)
    assert empty.collect() == []
    release_doc_ids(empty)


def test_kill_and_resume_equals_single_shot(spark, corpus_small, tmp_path):
    single = build_index(corpus_small, str(tmp_path / "single"), layout=LAYOUT, n_buckets=8)

    out = str(tmp_path / "resumed")
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(corpus_small, out, layout=LAYOUT, n_buckets=8, waves=4, fail_after_wave=2)
    # checkpoint shows partial completion
    import json

    ckpt = json.load(open(os.path.join(out, "_checkpoint.json")))
    assert 0 < len(ckpt["done_shards"]) < 4
    resumed = build_index(corpus_small, out, layout=LAYOUT, n_buckets=8, waves=4)

    def blocks(idx):
        return sorted(
            (
                (r["shard"], r["term"], r["block_id"], bytes(r["deltas"]), bytes(r["tfs"]))
                for r in idx.postings.collect()
            )
        )

    assert blocks(resumed) == blocks(single)
    # no double-count: every (shard, term, block) appears exactly once
    rows = resumed.postings.groupBy("shard", "term", "block_id").count().where("count > 1")
    assert rows.count() == 0


def test_resume_is_incremental(spark, corpus_small, tmp_path):
    """Resume must not redo completed shards (checks _metrics lineage)."""
    out = str(tmp_path / "incr")
    with pytest.raises(RuntimeError):
        build_index(corpus_small, out, layout=LAYOUT, n_buckets=8, waves=4, fail_after_wave=2)
    build_index(corpus_small, out, layout=LAYOUT, n_buckets=8, waves=4)
    metrics = spark.read.parquet(os.path.join(out, "_metrics"))
    per_shard = metrics.groupBy("shard").count().collect()
    # each shard committed exactly once across the killed run + resume
    assert all(r["count"] == 1 for r in per_shard)
    assert len(per_shard) == 4
    cols = set(metrics.columns)
    assert {"build_id", "shard", "n_terms", "n_postings", "n_blocks",
            "deltas_bytes", "tfs_bytes", "elapsed_sec"} <= cols


def test_compression_ratio(built):
    """Delta+varint postings must be much smaller than raw int64 pairs."""
    from pyspark.sql import functions as F

    row = built.postings.agg(
        F.sum(F.octet_length("deltas") + F.octet_length("tfs")).alias("bytes"),
        F.sum("n_docs").alias("postings"),
    ).collect()[0]
    raw = row["postings"] * 16  # int64 doc_id + int64 tf
    assert row["bytes"] < raw / 3


def test_wand_match_mode_equals_dataframe_path(spark, built, corpus_small):
    """positive_only=False: WAND over the physical index ranks exactly like the
    declarative DF-join plan over the logical index (every doc matching >=1
    known query term eligible, no score>0 cut)."""
    from neural_search_spark.index.docmap import assign_doc_ids
    from neural_search_spark.index.stats import build_logical_index
    from neural_search_spark.query.bm25_dataframe import bm25_topk
    from neural_search_spark.query.bm25_wand import bm25_topk_wand

    idx = build_logical_index(assign_doc_ids(corpus_small))
    want = {
        (r["query_id"], r["doc_id"]): r["score"]
        for r in bm25_topk(
            idx.doc_terms, idx.terms, queries_df(spark), stats=idx.stats, positive_only=False
        ).collect()
    }
    got = {
        (r["query_id"], r["doc_id"]): r["score"]
        for r in bm25_topk_wand(built, queries_df(spark), positive_only=False).collect()
    }
    assert set(got) == set(want)
    for key, s in got.items():
        assert s == pytest.approx(want[key], rel=1e-9)


def test_head_term_skew_defused_by_layout(spark, built):
    """The head term (in >60% of docs) must be spread across every shard with
    near-uniform posting counts — the stored-layout salting that keeps one
    task from ever holding a stopword's full posting list at 10^12 docs."""
    from pyspark.sql import functions as F

    per_shard = {
        r["shard"]: r["n"]
        for r in built.postings.where(F.col("term") == "w0000")
        .groupBy("shard")
        .agg(F.sum("n_docs").alias("n"))
        .collect()
    }
    assert len(per_shard) == 4  # present in every shard
    # proportional to shard population (the last shard is partial): the head
    # term's density per shard must be near-uniform, i.e. no shard holds a
    # disproportionate share of its postings
    docs_per_shard = {
        r["shard"]: r["n"]
        for r in built.docmap.groupBy("shard").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    densities = [per_shard[s] / docs_per_shard[s] for s in per_shard]
    assert max(densities) <= 1.0
    assert min(densities) >= 0.5  # head term: in >60% of docs everywhere
    total = sum(per_shard.values())
    assert total == built.terms.where(F.col("term") == "w0000").collect()[0]["df"]


def test_wand_actually_prunes_windows(spark, built, oracle):
    """With fine-grained windows and small k, the BMW bound must SKIP windows
    (visited < considered) while staying rank-identical to the oracle."""
    from neural_search_spark.query.bm25_wand import bm25_topk_wand

    q = spark.createDataFrame(
        [(0, "w0005 w0010", 1), (1, "w1999", 1), (2, "w0001 w0002 w0003", 1)],
        "query_id int, query_text string, top_k int",
    )
    stats: dict = {}
    res = bm25_topk_wand(built, q, pruning_stats=stats, window_docs=8)
    rows = sorted((r["query_id"], r["doc_id"], r["score"]) for r in res.collect())
    visited, total = stats["visited"].value, stats["total"].value
    assert 0 < visited < total, (visited, total)
    # pruning must not change results: still rank-identical to the oracle
    for qid, qtext in [(0, "w0005 w0010"), (1, "w1999"), (2, "w0001 w0002 w0003")]:
        want = oracle_topk(oracle, qtext, top_k=1)
        got = [(d, s) for (g, d, s) in rows if g == qid]
        assert len(got) == len(want)
        if want:
            assert got[0][1] == pytest.approx(want[0][1], rel=1e-9)


def test_empty_corpus_raises_clearly(spark, tmp_path):
    empty = spark.createDataFrame(
        [], "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    with pytest.raises(ValueError, match="empty corpus"):
        build_index(empty, str(tmp_path / "idx"))


def test_single_doc_corpus(spark, tmp_path):
    from neural_search_spark.corpus import queries_df
    from neural_search_spark.query.bm25_wand import bm25_topk_wand

    one = spark.createDataFrame(
        [("u1", None, None, "w0000 hello world", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    idx = build_index(one, str(tmp_path / "idx"), layout=LAYOUT, n_buckets=8)
    assert idx.stats.n_docs == 1 and idx.stats.avgdl == 3.0
    res = bm25_topk_wand(idx, queries_df(spark), positive_only=False).collect()
    # only queries containing a known term ('w0000', incl. uppercase variant)
    # can match the single doc
    assert {r["doc_id"] for r in res} == {0}
    assert len(res) > 0


def test_fresh_build_tokenizes_once(spark, corpus_small, tmp_path, monkeypatch):
    """Phase 2 reuses phase 1's persisted tokenization in a single-call build.

    The cross-phase persist (build.py) exists so the pandas-UDF tokenize —
    the priciest build stage — runs once, not once per phase; this pins the
    behavior by counting doc_terms invocations inside build_index."""
    import neural_search_spark.index.build as build_mod

    calls = {"n": 0}
    real = build_mod.doc_terms

    def counting(*args, **kwargs):
        calls["n"] += 1
        return real(*args, **kwargs)

    monkeypatch.setattr(build_mod, "doc_terms", counting)
    idx = build_index(
        corpus_small, str(tmp_path / "once"), layout=LAYOUT, n_buckets=8, waves=4
    )
    assert calls["n"] == 1
    assert idx.postings.count() > 0


def test_stem_analyzer_physical_index_end_to_end(spark, tmp_path_factory):
    """An index built with analyzer='stem' is analyzer-bound: WAND and the
    serving replica fold query tokens through the SAME stem as the build,
    results match the logical stemmed path, maintenance preserves the
    analyzer, and merging with a flat index refuses."""
    from pyspark.sql import functions as F

    from neural_search_spark.index.maintenance import add_documents
    from neural_search_spark.index.merge import merge_indexes
    from neural_search_spark.index.stats import build_logical_index
    from neural_search_spark.query.bm25_wand import bm25_topk_wand
    from neural_search_spark.query.serve import IndexReader
    from neural_search_spark.query.stemming import bm25_topk_stem

    root = tmp_path_factory.mktemp("stemidx")
    rows = [
        (0, "u0000", "table scan fast"),
        (1, "u0001", "tables merge slow"),
        (2, "u0002", "key value store"),
        (3, "u0003", "keys values stores"),
        (4, "u0004", "window group agg"),
        (5, "u0005", "sort shuffle spill"),
        (6, "u0006", "filter project limit"),
        (7, "u0007", "join hash broadcast"),
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, url string, text string")
    out = str(root / "idx")
    layout = IndexLayout(docs_per_shard=4, block_size=4)
    idx = build_index(
        corpus, out, id_col="doc_id", layout=layout, n_buckets=4, analyzer="stem"
    )
    assert idx.analyzer == "stem"
    assert load_index(spark, out).analyzer == "stem"

    # folded vocabulary: 'tables' is gone, 'table' has df 2
    got_df = {
        r["term"]: r["df"]
        for r in idx.terms.where(F.col("term").isin("table", "tables")).collect()
    }
    assert got_df == {"table": 2}

    # WAND == logical stemmed path (match mode: plural query, singular docs)
    qdf = spark.createDataFrame(
        [(0, "tables", 10), (1, "keys value", 10)],
        "query_id int, query_text string, top_k int",
    )
    want = {
        (r["query_id"], r["doc_id"]): (r["rank"], r["score"])
        for r in bm25_topk_stem(
            build_logical_index(corpus), qdf, positive_only=False
        ).collect()
    }
    got = {
        (r["query_id"], r["doc_id"]): (r["rank"], r["score"])
        for r in bm25_topk_wand(idx, qdf, positive_only=False).collect()
    }
    assert set(got) == set(want)
    for key, (rank, score) in want.items():
        grank, gscore = got[key]
        assert grank == rank, key
        assert gscore == pytest.approx(score, rel=1e-9), key

    # serving replica folds identically
    reader = IndexReader(out)
    serve_hits = reader.query("tables", top_k=10, positive_only=False)
    wand_single = sorted(
        ((d, s) for (q, d), (_r, s) in got.items() if q == 0),
        key=lambda x: (-x[1], x[0]),
    )
    assert [d for d, _ in serve_hits] == [d for d, _ in wand_single]
    for (d, s), (_d, w) in zip(serve_hits, wand_single):
        assert s == pytest.approx(w, rel=1e-9)

    # maintenance preserves the analyzer and folds the delta
    new = spark.createDataFrame(
        [(99, "u0099", "tables tables keys")], "doc_id long, url string, text string"
    )
    full = corpus.unionByName(new)
    idx2 = add_documents(full.drop("doc_id"), out, new.drop("doc_id"))
    assert idx2.analyzer == "stem"
    df2 = {
        r["term"]: r["df"]
        for r in idx2.terms.where(F.col("term").isin("table", "tables")).collect()
    }
    assert df2 == {"table": 3}, "delta df must be counted in the folded space"

    # merging indexes from different analysis spaces must refuse
    flat_dir = str(root / "flat")
    build_index(corpus, flat_dir, id_col="doc_id", layout=layout, n_buckets=4)
    with pytest.raises(ValueError, match="analyzer"):
        merge_indexes(spark, out, flat_dir, str(root / "merged"))


def test_positional_index_phrase_end_to_end(spark, tmp_path_factory):
    """store_positions=True: phrase retrieval straight from the compressed
    index equals the corpus-scan phrase plan; the serving replica agrees;
    maintenance preserves position storage; flat+positional merge refuses;
    BM25 results are unchanged by position storage."""
    from pyspark.sql import functions as F

    from neural_search_spark.index.maintenance import add_documents
    from neural_search_spark.index.merge import merge_indexes
    from neural_search_spark.query.bm25_wand import bm25_topk_wand
    from neural_search_spark.query.phrase import (
        doc_term_positions,
        phrase_topk,
        phrase_topk_indexed,
    )
    from neural_search_spark.query.serve import IndexReader

    root = tmp_path_factory.mktemp("positional")
    rows = [
        (0, "u0000", "big data engine runs fast big data wins"),
        (1, "u0001", "data big engine the fast runs"),
        (2, "u0002", "big data big data big data"),
        (3, "u0003", "engine fast and slow"),
        (4, "u0004", "entirely different words here"),
        (5, "u0005", "big rig data center"),
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, url string, text string")
    out = str(root / "idx")
    layout = IndexLayout(docs_per_shard=4, block_size=2)
    idx = build_index(
        corpus, out, id_col="doc_id", layout=layout, n_buckets=4,
        store_positions=True,
    )
    assert idx.positional and load_index(spark, out).positional

    phrases = [(0, "big data", 10), (1, "data big engine", 10), (2, "big center", 10)]
    want = sorted(
        map(tuple, phrase_topk(doc_term_positions(corpus), spark, phrases).collect())
    )
    got = sorted(map(tuple, phrase_topk_indexed(idx, spark, phrases).collect()))
    assert got == want and len(got) > 0
    # doc 2 has phrase_tf 3 for "big data": positions survive blocks exactly
    big_data = {(d, tf) for (p, _r, d, tf) in got if p == 0}
    assert big_data == {(2, 3), (0, 2)}  # doc 1 has "data big", not the phrase
    assert all(d != 5 for d, _ in big_data), "'big rig data' is not a phrase hit"

    # serving replica parity
    reader = IndexReader(out)
    serve_hits = reader.query_phrase("big data", top_k=10)
    want_serve = sorted(
        ((d, tf) for (p, _r, d, tf) in got if p == 0),
        key=lambda x: (-x[1], x[0]),
    )
    assert serve_hits == want_serve
    assert reader.query_phrase("nosuchterm data") == []

    # BM25 paths are untouched by position storage
    qdf = spark.createDataFrame(
        [(0, "big data", 10)], "query_id int, query_text string, top_k int"
    )
    flat_dir = str(root / "flat")
    flat = build_index(corpus, flat_dir, id_col="doc_id", layout=layout, n_buckets=4)
    a = sorted(map(tuple, bm25_topk_wand(idx, qdf, positive_only=False).collect()))
    b = sorted(map(tuple, bm25_topk_wand(flat, qdf, positive_only=False).collect()))
    assert a == b

    # maintenance keeps positions: the added doc is phrase-findable
    new = spark.createDataFrame(
        [(99, "u0099", "totally big data moment")], "doc_id long, url string, text string"
    )
    full = corpus.unionByName(new)
    idx2 = add_documents(full.drop("doc_id"), out, new.drop("doc_id"))
    assert idx2.positional
    reader.refresh()
    hits2 = reader.query_phrase("big data", top_k=20)
    assert len(hits2) == len(want_serve) + 1

    # merging flat with positional refuses
    with pytest.raises(ValueError, match="position"):
        merge_indexes(spark, out, flat_dir, str(root / "merged"))


def test_asciifold_analyzer_physical_index_end_to_end(spark, tmp_path_factory):
    """analyzer='asciifold': 'café' and 'cafe' share one posting group; the
    accent-free query matches accented docs on WAND and the replica (both
    fold query tokens through the index-bound analyzer automatically); the
    composed 'asciifold_stem' chain folds then stems."""
    from pyspark.sql import functions as F

    from neural_search_spark.functions.analyzers import analyze_tokens
    from neural_search_spark.query.bm25_wand import bm25_topk_wand
    from neural_search_spark.query.serve import IndexReader

    root = tmp_path_factory.mktemp("foldidx")
    rows = [
        (0, "u0000", "café près de la gare"),
        (1, "u0001", "cafe near the station"),
        (2, "u0002", "naïve résumé review"),
        (3, "u0003", "naive resume review"),
        (4, "u0004", "window group agg"),
        (5, "u0005", "sort shuffle spill"),
        (6, "u0006", "filter project limit"),
        (7, "u0007", "join hash broadcast"),
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, url string, text string")
    out = str(root / "idx")
    layout = IndexLayout(docs_per_shard=4, block_size=4)
    idx = build_index(
        corpus, out, id_col="doc_id", layout=layout, n_buckets=4,
        analyzer="asciifold",
    )
    assert idx.analyzer == "asciifold"

    # folded vocabulary: both surface forms share one group with df 2
    got_df = {
        r["term"]: r["df"]
        for r in idx.terms.where(F.col("term").isin("cafe", "café")).collect()
    }
    assert got_df == {"cafe": 2}

    # accent-free query matches the accented doc (and vice versa), WAND side
    qdf = spark.createDataFrame(
        [(0, "cafe", 10), (1, "résumé naive", 10)],
        "query_id int, query_text string, top_k int",
    )
    wand = bm25_topk_wand(idx, qdf, positive_only=False).collect()
    by_q = {}
    for r in wand:
        by_q.setdefault(r["query_id"], set()).add(r["doc_id"])
    assert by_q[0] == {0, 1}
    assert by_q[1] == {2, 3}

    # replica folds identically
    reader = IndexReader(out)
    assert {d for d, _ in reader.query("café", positive_only=False)} == {0, 1}
    got = reader.query("cafe", positive_only=False)
    assert got == reader.query("café", positive_only=False)

    # composed chain folds then stems
    assert analyze_tokens(["cafés", "tables"], "asciifold_stem") == ["cafe", "table"]


def test_assign_doc_ids_rejects_existing_doc_id_any_case(corpus_small):
    """The doc_id-clash guard is case-insensitive, matching Spark's default
    case-insensitive column resolution: a DOC_ID column would hit the same
    late AMBIGUOUS_REFERENCE an exact-case doc_id does."""
    from neural_search_spark.index.docmap import assign_doc_ids

    import pytest as _pytest
    from pyspark.sql import functions as F

    with _pytest.raises(ValueError, match="already has a doc_id"):
        assign_doc_ids(corpus_small.withColumn("doc_id", F.lit(1)))
    with _pytest.raises(ValueError, match="'DOC_ID'"):
        assign_doc_ids(corpus_small.withColumn("DOC_ID", F.lit(1)))

    # under spark.sql.caseSensitive=true a DOC_ID column does NOT collide
    # with the appended doc_id (they are distinct names in that config),
    # so the guard must let it through — only the exact-case name clashes
    spark = corpus_small.sparkSession
    prior = spark.conf.get("spark.sql.caseSensitive", "false")
    spark.conf.set("spark.sql.caseSensitive", "true")
    try:
        got = assign_doc_ids(corpus_small.withColumn("DOC_ID", F.lit(1)))
        assert "doc_id" in got.columns and "DOC_ID" in got.columns
        with _pytest.raises(ValueError, match="already has a doc_id"):
            assign_doc_ids(corpus_small.withColumn("doc_id", F.lit(1)))
    finally:
        # restore the SAVED value, not a hardcoded "false": overwriting a
        # deliberately case-sensitive session config would leak into every
        # later test in the shared session
        spark.conf.set("spark.sql.caseSensitive", prior)
