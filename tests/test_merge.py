"""Index merge: a merged index must be query-equivalent (per url, score) to a
fresh build over the union corpus, reusable by every reader, and maintainable
afterwards. See neural_search_spark/index/merge.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from neural_search_spark.config import IndexLayout
from neural_search_spark.corpus import corpus_df
from neural_search_spark.index.build import build_index, load_index
from neural_search_spark.index.merge import merge_indexes
from neural_search_spark.query.bm25_wand import bm25_topk_wand

LAYOUT = IndexLayout(docs_per_shard=64, block_size=16)

QUERIES = [
    (0, "w0005 w0010", 10),
    (1, "w0001 w0042 w0007", 10),
    (2, "w0100 w0003", 8),
]


@pytest.fixture(scope="module")
def split_corpus(spark):
    full = corpus_df(spark, n_docs=300, seed=7).select("url", "text")
    # deterministic disjoint halves (not shard-aligned: exercises the partial
    # last shard of A + the boundary shift of B)
    a = full.where(F.crc32(F.col("url")) % 3 != 0)
    b = full.where(F.crc32(F.col("url")) % 3 == 0)
    full.persist().count()
    return full, a, b


@pytest.fixture(scope="module")
def merge_root(spark, split_corpus, tmp_path_factory):
    full, a, b = split_corpus
    root = tmp_path_factory.mktemp("merge")
    build_index(a, str(root / "a"), layout=LAYOUT, n_buckets=8)
    build_index(b, str(root / "b"), layout=LAYOUT, n_buckets=8)
    merge_indexes(spark, str(root / "a"), str(root / "b"), str(root / "m"))
    build_index(full, str(root / "fresh"), layout=LAYOUT, n_buckets=8)
    return root


@pytest.fixture(scope="module")
def merged_and_fresh(spark, merge_root):
    return (
        load_index(spark, str(merge_root / "m")),
        load_index(spark, str(merge_root / "fresh")),
    )


def _topk_by_url(spark, idx, extra_k: int = 30):
    qdf = spark.createDataFrame(
        [(q, t, k + extra_k) for q, t, k in QUERIES],
        "query_id int, query_text string, top_k int",
    )
    res = bm25_topk_wand(idx, qdf, positive_only=False)
    ranked = res.join(idx.docmap.select("doc_id", "url"), "doc_id").select(
        "query_id", "url", F.round("score", 4).alias("score")
    )
    out: dict = {}
    for r in ranked.collect():
        out[(r.query_id, r.url)] = r.score
    return out


def test_merged_equals_fresh_build_by_url(spark, merged_and_fresh):
    merged, fresh = merged_and_fresh
    got, want = _topk_by_url(spark, merged), _topk_by_url(spark, fresh)
    # identical candidate sets at identical rounded scores: doc_ids differ
    # between the two indexes (merge renumbers B), urls are the identity
    assert got == want


def test_merged_stats_match_fresh(merged_and_fresh):
    merged, fresh = merged_and_fresh
    assert merged.stats.n_docs == fresh.stats.n_docs
    assert merged.stats.avgdl == pytest.approx(fresh.stats.avgdl, rel=1e-12)
    assert merged.stats.average_idf == pytest.approx(fresh.stats.average_idf, rel=1e-9)
    mdf = {r.term: r.df for r in merged.terms.select("term", "df").collect()}
    fdf = {r.term: r.df for r in fresh.terms.select("term", "df").collect()}
    assert mdf == fdf


def test_b_posting_payloads_are_reused_verbatim(spark, merge_root):
    """Merge must not re-encode: every compressed payload of source B appears
    byte-identical in the merged index (only shard labels / absolute doc ids
    move), and likewise for A."""
    merged = load_index(spark, str(merge_root / "m"))
    m_payloads = {
        (r.term, r.block_id, bytes(r.deltas), bytes(r.tfs))
        for r in merged.postings.select("term", "block_id", "deltas", "tfs").collect()
    }
    for src in ("a", "b"):
        idx = load_index(spark, str(merge_root / src))
        for r in idx.postings.select("term", "block_id", "deltas", "tfs").collect():
            assert (r.term, r.block_id, bytes(r.deltas), bytes(r.tfs)) in m_payloads


def test_merged_postings_keep_the_build_layout(merged_and_fresh, check_postings_layout):
    """The merge writes postings through the build's ``_write_postings``:
    one term-sorted zstd file per shard, B's shards relabeled after A's."""
    merged, _ = merged_and_fresh
    shards = check_postings_layout(merged.paths.postings)
    assert sorted(shards) == list(range(len(shards)))


def test_serving_reader_rank_identical_on_merged(spark, merged_and_fresh):
    from neural_search_spark.query.serve import IndexReader

    merged, fresh = merged_and_fresh
    rm = IndexReader(merged.paths.root)
    rf = IndexReader(fresh.paths.root)
    m_urls = {r.doc_id: r.url for r in merged.docmap.select("doc_id", "url").collect()}
    f_urls = {r.doc_id: r.url for r in fresh.docmap.select("doc_id", "url").collect()}
    for _, qtext, k in QUERIES:
        got = [
            (m_urls[d], round(s, 4))
            for d, s in rm.query(qtext, top_k=k + 30, positive_only=False)
        ]
        want = [
            (f_urls[d], round(s, 4))
            for d, s in rf.query(qtext, top_k=k + 30, positive_only=False)
        ]
        assert sorted(got) == sorted(want)


def test_merge_rejects_incompatible_layout(spark, split_corpus, tmp_path_factory):
    _, a, b = split_corpus
    root = tmp_path_factory.mktemp("merge_bad")
    build_index(a, str(root / "a"), layout=LAYOUT, n_buckets=8)
    build_index(
        b, str(root / "b"), layout=IndexLayout(docs_per_shard=128, block_size=16), n_buckets=8
    )
    with pytest.raises(ValueError, match="incompatible layouts"):
        merge_indexes(spark, str(root / "a"), str(root / "b"), str(root / "m"))


def test_merge_rejects_overlapping_urls(spark, merge_root, tmp_path_factory):
    out = tmp_path_factory.mktemp("merge_dup")
    with pytest.raises(ValueError, match="not url-disjoint"):
        merge_indexes(spark, str(merge_root / "a"), str(merge_root / "a"), str(out / "m"))


def test_merged_index_is_maintainable(spark, split_corpus, merge_root, tmp_path_factory):
    """add_documents on the merged index == fresh build over union + new docs
    (per url, rounded score): the merge commits a normal manifest, so the
    maintenance machinery picks it up unchanged."""
    from neural_search_spark.index.maintenance import add_documents

    full, _, _ = split_corpus
    new_docs = spark.createDataFrame(
        [
            ("zzz/newdoc1", "w0005 w0010 w0005 freshly added"),
            ("zzz/newdoc2", "w0042 w0100 another new doc"),
        ],
        "url string, text string",
    )
    after = full.unionByName(new_docs)
    merged2 = add_documents(after, str(merge_root / "m"), new_docs)

    root2 = tmp_path_factory.mktemp("merge_maint")
    fresh2 = build_index(after, str(root2 / "fresh2"), layout=LAYOUT, n_buckets=8)
    assert _topk_by_url(spark, merged2) == _topk_by_url(spark, fresh2)
