"""IndexReader (query/serve.py): rank identity with the Spark paths + latency.

The serving contract: a reader over the parquet index returns EXACTLY what
the cluster-side paths return — same docs, same scores (bit for bit
against WAND: both multiply each posting's ``codec.bm25_saturation`` by
qtf*idf and accumulate through ``codec.bm25_score_range``, which adds terms
in sorted-term order whatever the query's token order), same deterministic
tie order — and answers warm queries in milliseconds without touching
Spark. A reader's ``TtlLruCache`` holds each term's ids plus saturations
under the snapshot's avgdl: a ``refresh()`` to a new snapshot, and
MultiReader's global avgdl, never see them.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from neural_search_spark.config import IndexLayout
from neural_search_spark.corpus import write_corpus_parquet
from neural_search_spark.index.build import build_index, load_index
from neural_search_spark.index.docmap import assign_doc_ids
from neural_search_spark.query.bm25_wand import bm25_topk_wand
from neural_search_spark.query.cache import TtlLruCache
from neural_search_spark.query.serve import IndexReader


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("serve")
    corpus_path = str(root / "corpus")
    write_corpus_parquet(spark, corpus_path, n_docs=400)
    corpus = assign_doc_ids(spark.read.parquet(corpus_path))
    out_dir = str(root / "idx")
    index = build_index(
        corpus, out_dir, id_col="doc_id",
        layout=IndexLayout(docs_per_shard=64, block_size=16), n_buckets=8,
    )
    return index, IndexReader(out_dir)


QUERIES = [
    "w0005 w0010", "w0001", "w0000 w0002 w0007", "nosuchterm w0003",
    "w0005 w0005 w0005 w0010",  # qtf = 3
    # unsorted: added in token order, doc 249 would differ in the last bit
    "w0026 w0023 w0025",
]


@pytest.mark.parametrize("positive_only", [True, False])
def test_reader_matches_wand(spark, served, positive_only):
    index, reader = served
    for qi, text in enumerate(QUERIES):
        q = spark.createDataFrame(
            [(qi, text, 12)], "query_id int, query_text string, top_k int"
        )
        expect = [
            (r["doc_id"], r["score"])
            for r in bm25_topk_wand(index, q, positive_only=positive_only)
            .orderBy("rank")
            .collect()
        ]
        got = reader.query(text, top_k=12, positive_only=positive_only)
        # bit-identical: both paths score through codec.bm25_score_range
        assert got == expect, text


def test_reader_unknown_terms_empty(served):
    _, reader = served
    assert reader.query("totallyunknown absent") == []


def test_reader_refresh_after_maintenance(spark, tmp_path):
    """The reader serves the post-maintenance snapshot after refresh()."""
    from neural_search_spark.index.maintenance import add_documents

    corpus_path = str(tmp_path / "corpus")
    write_corpus_parquet(spark, corpus_path, n_docs=120)
    base = spark.read.parquet(corpus_path).select("url", "text")
    out_dir = str(tmp_path / "idx")
    build_index(
        base, out_dir,
        layout=IndexLayout(docs_per_shard=64, block_size=16), n_buckets=8,
    )
    reader = IndexReader(out_dir)
    assert reader.query("freshterm") == []
    known = reader.query("w0005", top_k=200, positive_only=False)
    # a second reader caches w0005's ids and saturations for this snapshot
    cached = IndexReader(out_dir, cache=TtlLruCache())
    assert cached.query("w0005", top_k=200, positive_only=False) == known
    # doc 120 does not exist yet; d is an old shard-1 doc holding w0005
    d = min(doc for doc, _ in known if doc >= 64)
    explained = {doc: reader.explain("w0005", doc) for doc in (d, 120)}

    new_docs = spark.createDataFrame(
        [("zzz://new/1", "freshterm freshterm w0005")], "url string, text string"
    )
    add_documents(base.unionByName(new_docs), out_dir, new_docs)
    stale = reader.query("freshterm")  # pre-refresh dictionary: term unknown
    assert stale == []
    # the commit rewrote shard 1 (new doc 120 holds w0005); before refresh()
    # the reader still serves the old snapshot through its open files
    assert reader.query("w0005", top_k=200, positive_only=False) == known
    # explain reads postings and docmap through the same snapshot handles
    for doc, before in explained.items():
        assert reader.explain("w0005", doc) == before, doc
    reader.refresh()
    got = reader.query("freshterm", top_k=5)
    assert len(got) == 1 and got[0][0] == 120  # appended id after max(119)
    # refresh() dropped the old snapshot's cached row groups, so the new
    # shard-1 postings are read
    assert 120 in [doc for doc, _ in reader.query("w0005", top_k=200,
                                                  positive_only=False)]
    # the commit moved avgdl: the cached saturations belong to the old
    # snapshot and are not served after refresh()
    cached.refresh()
    assert cached.query("w0005", top_k=200, positive_only=False) == (
        IndexReader(out_dir).query("w0005", top_k=200, positive_only=False)
    )


def test_reader_avgdl_override_bypasses_postings_cache(served):
    """MultiReader's global avgdl (``avgdl_override``) scores with fresh
    saturations: a cached reader neither serves its snapshot saturations
    to an override nor caches the override's for later plain queries."""
    _, base_reader = served
    cached = IndexReader(base_reader.root, cache=TtlLruCache())
    plain = IndexReader(base_reader.root)
    x = float(cached.stats["avgdl"]) * 1.7
    # w0005/w0010 are cached under the snapshot's avgdl before the
    # override; w0001/w0002 are first read under the override
    warm, cold = "w0005 w0010", "w0001 w0002"
    assert cached.query(warm, top_k=400, positive_only=False) == (
        plain.query(warm, top_k=400, positive_only=False)
    )
    for text in (warm, cold):
        qterms = {t: (1, cached.idf[t]) for t in text.split()}
        got = cached._score(qterms, 400, False, avgdl_override=x)
        assert got == plain._score(qterms, 400, False, avgdl_override=x)
        assert got != plain._score(qterms, 400, False), "the override moves scores"
    assert cached.query(cold, top_k=400, positive_only=False) == (
        IndexReader(base_reader.root).query(cold, top_k=400, positive_only=False)
    )


def test_reader_refresh_keeps_open_files_flat(served):
    """refresh() closes the previous snapshot's posting files before it
    opens the new ones: 20 refreshes leave the open-fd count unchanged."""
    import os

    _, base_reader = served
    reader = IndexReader(base_reader.root)
    held = [f.handle for f in reader._files] + [
        pf for files in reader._docmap.values() for pf in files
    ]
    before = len(os.listdir("/proc/self/fd"))
    for _ in range(20):
        reader.refresh()
    assert len(os.listdir("/proc/self/fd")) == before
    assert held and all(h.closed for h in held)
    assert reader.query("w0005 w0010") == base_reader.query("w0005 w0010")
    reader.close()
    assert len(os.listdir("/proc/self/fd")) == before - len(held)


def _rewrite_postings(src_root, dst_root, files_per_shard, row_group_size, shuffle):
    """Copy an index, rewriting each shard's postings with pyarrow into
    ``files_per_shard`` files of ``row_group_size``-row groups, rows either
    shuffled (the unsorted layout of indexes written before the term sort)
    or sorted by (term, block_id)."""
    import glob
    import os
    import shutil

    import numpy as np
    import pyarrow.parquet as pq

    shutil.copytree(src_root, dst_root)
    rng = np.random.default_rng(0)
    for shard_dir in glob.glob(os.path.join(dst_root, "postings", "shard=*")):
        files = glob.glob(os.path.join(shard_dir, "*.parquet"))
        table = pq.read_table(files[0])
        for f in files:
            os.remove(f)
        if shuffle:
            table = table.take(rng.permutation(table.num_rows))
        else:
            table = table.sort_by([("term", "ascending"), ("block_id", "ascending")])
        for i, part in enumerate(np.array_split(np.arange(table.num_rows), files_per_shard)):
            pq.write_table(
                table.take(part), os.path.join(shard_dir, f"part-{i}.parquet"),
                row_group_size=row_group_size,
            )


def test_reader_legacy_unsorted_layout_answers_identically(served, tmp_path):
    """An index whose postings are unsorted and split over several files per
    shard still answers exactly as the term-sorted one; the row-group
    directory only selects conservatively, so it reads more."""
    _, reader = served
    legacy = str(tmp_path / "legacy")
    _rewrite_postings(reader.root, legacy, files_per_shard=3, row_group_size=100,
                      shuffle=True)
    old = IndexReader(legacy)
    assert len(old._files) == 3 * len(reader._files)
    # the second pass is served from the cached, unsorted row groups
    reads = []
    for _ in range(2):
        for positive_only in (True, False):
            for text in QUERIES:
                assert old.query(text, top_k=12, positive_only=positive_only) == (
                    reader.query(text, top_k=12, positive_only=positive_only)
                ), text
        reads.append(dict(old.postings_read))
    assert reads[1]["row_groups_read"] == reads[0]["row_groups_read"]
    assert reads[1]["row_group_hits"] > reads[0]["row_group_hits"]


def _decoded_bytes(group) -> int:
    """Bytes of a cached row group's decoded arrays."""
    arrays = (group.terms, group.starts, group.ids, group.tfs, group.positions,
              group.pos_starts)
    return sum(a.nbytes for a in arrays if a is not None)


def test_reader_chain_across_row_groups_answers_identically(served, tmp_path):
    """With row groups of 3 blocks, a term whose chain has more blocks in a
    shard is cut by row-group boundaries; the decoded parts join in doc-id
    order and answer exactly as the build's layout does. The cache holds
    exactly the decoded arrays' bytes."""
    import numpy as np

    _, reader = served
    small = str(tmp_path / "small")
    _rewrite_postings(reader.root, small, files_per_shard=1, row_group_size=3,
                      shuffle=False)
    rd = IndexReader(small)
    blocks: dict = {}
    for f in rd._files:
        for t in f.handle.read(columns=["term"]).column("term").to_pylist():
            blocks[(t, f.shard)] = blocks.get((t, f.shard), 0) + 1
    term = min(t for (t, _), n in blocks.items() if n > 3)
    for positive_only in (True, False):
        assert rd.query(term, top_k=400, positive_only=positive_only) == (
            reader.query(term, top_k=400, positive_only=positive_only)
        )
    holding = [g for g in rd._rg_cache.values()
               if np.isin(np.array([term.encode()], dtype="S"), g.terms)[0]]
    assert len(holding) > len(rd._files)
    assert all(g.nbytes == _decoded_bytes(g) for g in rd._rg_cache.values())
    assert rd.postings_read["row_group_cache_bytes"] == sum(
        g.nbytes for g in rd._rg_cache.values())


def test_reader_reads_one_row_group_per_shard(served, tmp_path):
    """On a term-sorted index a one-term query reads, in each shard holding
    the term, only the row group that holds it (postings_read counters)."""
    _, reader = served
    sorted_root = str(tmp_path / "sorted")
    _rewrite_postings(reader.root, sorted_root, files_per_shard=1, row_group_size=64,
                      shuffle=False)
    rd = IndexReader(sorted_root)
    # a term with exactly one block in every shard, so no row-group boundary
    # can split it
    shards = sorted(f.shard for f in rd._files)
    rows: dict = {}
    for f in rd._files:
        for t in f.handle.read(columns=["term"]).column("term").to_pylist():
            rows.setdefault(t, []).append(f.shard)
    term = min(t for t, sh in rows.items() if sorted(sh) == shards)
    n_shards = len(shards)
    total = sum(f.handle.metadata.num_row_groups for f in rd._files)
    assert rd.query(term, top_k=50) == reader.query(term, top_k=50)
    assert rd.postings_read == {
        "row_groups_read": n_shards, "row_group_hits": 0, "row_groups_total": total,
        "files": n_shards,
        "row_group_cache_bytes": sum(g.nbytes for g in rd._rg_cache.values()),
    }
    assert total > 5 * n_shards


def test_reader_row_group_cache_serves_later_terms(served):
    """A query whose terms sit in row groups an earlier query read reads no
    file: the groups come from the row-group cache (one group per shard
    here, and w0001 occurs in every shard)."""
    _, reader = served
    rd = IndexReader(reader.root)
    assert rd.query("w0001") == reader.query("w0001")
    read = dict(rd.postings_read)
    assert read["row_groups_read"] == read["files"] == len(rd._files)
    assert read["row_group_cache_bytes"] > 0
    assert rd.query("w0002 w0007") == reader.query("w0002 w0007")
    assert rd.postings_read["row_groups_read"] == read["row_groups_read"]
    assert rd.postings_read["files"] == read["files"]
    assert rd.postings_read["row_group_hits"] > read["row_group_hits"]
    rd.close()
    assert not rd._rg_cache and rd.postings_read["row_group_cache_bytes"] == 0


def test_reader_row_group_cache_bounded(served, tmp_path, monkeypatch):
    """With a budget of one row group, every query answers as an uncached
    reader does, and after each read the cache holds at most the budget or
    a single group."""
    from neural_search_spark.query import serve

    _, reader = served
    sorted_root = str(tmp_path / "sorted")
    _rewrite_postings(reader.root, sorted_root, files_per_shard=1, row_group_size=64,
                      shuffle=False)
    probe = IndexReader(sorted_root)
    probe.query("w0001")
    budget = next(iter(probe._rg_cache.values())).nbytes
    monkeypatch.setattr(serve, "POSTINGS_ROW_GROUP_CACHE_BYTES", budget)
    rd = IndexReader(sorted_root)
    for positive_only in (True, False):
        for text in QUERIES:
            assert rd.query(text, top_k=12, positive_only=positive_only) == (
                reader.query(text, top_k=12, positive_only=positive_only)
            ), text
            held = rd.postings_read["row_group_cache_bytes"]
            assert held == sum(g.nbytes for g in rd._rg_cache.values())
            assert held <= budget or len(rd._rg_cache) == 1
    # groups were evicted and read again
    assert rd.postings_read["row_groups_read"] > len(rd._rg_cache) + 1


def test_reader_allowed_docs_filter(served):
    """allowed_docs is a PRE-rank filter: the result is the top-k OF the
    allowed set (reference filter_conditions semantics), not the allowed
    survivors of an unfiltered top-k."""
    _, reader = served
    full = reader.query("w0005 w0010", top_k=400, positive_only=False)
    assert len(full) > 12
    # allow only the BOTTOM half of the unfiltered ranking: a post-filter of
    # the top-12 would return nothing; the pre-filter returns 12 of them
    allowed = [d for d, _ in full[len(full) // 2 :]]
    got = reader.query(
        "w0005 w0010", top_k=12, positive_only=False, allowed_docs=allowed
    )
    assert len(got) == 12
    assert [d for d, _ in got] == [d for d, _ in full if d in set(allowed)][:12]
    # scores unchanged by filtering; disjoint filter returns empty
    by_id = dict(full)
    assert all(s == by_id[d] for d, s in got)
    assert reader.query("w0005 w0010", allowed_docs=[10**9]) == []


def test_reader_allowed_docs_cache_keying(served):
    """Distinct filters must not collide in the result cache."""
    from neural_search_spark.query.cache import TtlLruCache
    from neural_search_spark.query.serve import IndexReader

    _, base_reader = served
    reader = IndexReader(base_reader.root, cache=TtlLruCache(max_entries=64))
    a = reader.query("w0005 w0010", top_k=5, allowed_docs=[d for d in range(50)])
    b = reader.query("w0005 w0010", top_k=5, allowed_docs=[d for d in range(50, 400)])
    no_f = reader.query("w0005 w0010", top_k=5)
    assert a != b
    assert {d for d, _ in a} <= set(range(50))
    assert {d for d, _ in b} <= set(range(50, 400))
    # the filtered-to-low-ids result must differ from the unfiltered one
    # (the unfiltered top-5 lives above id 50 on this corpus), proving the
    # unfiltered entry wasn't served for the filtered call
    assert no_f != a
    # repeated call is a cache hit with the same answer
    assert reader.query("w0005 w0010", top_k=5, allowed_docs=list(range(50))) == a


def test_reader_latency_ms(served):
    _, reader = served
    reader.query("w0005 w0010", top_k=10)  # warm: caches + page cache
    t0 = time.time()
    n = 20
    for _ in range(n):
        reader.query("w0005 w0010", top_k=10)
    per_query_ms = (time.time() - t0) / n * 1000
    assert per_query_ms < 250, per_query_ms  # generous bound for CI noise


def test_reader_suggest_matches_spark_path(spark, served):
    """Serving-side SymSpell suggestion == the Spark term_suggest operator:
    same candidates, same (distance asc, df desc, term asc) order."""
    from neural_search_spark.query.suggest import term_suggest

    index, reader = served
    qterms = ["w0005", "w005", "w0005x", "v0001", "zzzzzz"]
    qdf = spark.createDataFrame([(t,) for t in qterms], "q_term string")
    rows = term_suggest(index.terms, qdf, n=3).orderBy("q_term", "rank").collect()
    expect: dict[str, list] = {}
    for r in rows:
        expect.setdefault(r["q_term"], []).append(
            (r["suggestion"], r["distance"], r["df"])
        )
    for t in qterms:
        assert reader.suggest(t, n=3) == expect.get(t, []), t


def test_reader_suggest_index_drops_on_refresh(served):
    _, reader = served
    reader.suggest("w0005")
    assert reader._suggest_index is not None
    reader.refresh()
    assert reader._suggest_index is None


def test_reader_query_bool_matches_cluster_op(spark, served):
    """Serving boolean twin == query/boolean.py:bm25_topk_bool: same docs,
    same order, same scores (1e-9)."""
    from neural_search_spark.index.docmap import assign_doc_ids
    from neural_search_spark.index.stats import build_logical_index
    from neural_search_spark.query.boolean import bm25_topk_bool, bool_terms_df

    index, reader = served
    # logical view over the same corpus the physical index was built from
    corpus = index.docmap.sparkSession.read.parquet(
        reader.root.rsplit("/idx", 1)[0] + "/corpus"
    )
    idx = build_logical_index(assign_doc_ids(corpus), persist=True)
    queries = [
        "+w0005 w0010",
        "+w0005 +w0010",
        "w0005 -w0010",
        "+nosuchterm w0005",
        "-w0005 w0010 w0001",
    ]
    for qi, text in enumerate(queries):
        bt = bool_terms_df(spark, [(qi, text, 12)])
        expect = [
            (r["doc_id"], r["score"])
            for r in bm25_topk_bool(idx, bt).orderBy("rank").collect()
        ]
        got = reader.query_bool(text, top_k=12)
        assert [d for d, _ in got] == [d for d, _ in expect], text
        for (_, gs), (_, es) in zip(got, expect):
            assert gs == pytest.approx(es, abs=1e-9)


def test_reader_more_like_this_matches_cluster_op(spark, served):
    """Replica MLT == cluster more_like_this: same term selection, same
    docs, same 4dp-rounded scores, source excluded."""
    from neural_search_spark.index.docmap import assign_doc_ids
    from neural_search_spark.index.stats import build_logical_index
    from neural_search_spark.query.mlt import more_like_this

    index, reader = served
    corpus = assign_doc_ids(
        index.docmap.sparkSession.read.parquet(
            reader.root.rsplit("/idx", 1)[0] + "/corpus"
        )
    )
    idx = build_logical_index(corpus, persist=True)
    src_ids = [0, 17, 233]
    src = corpus.sparkSession.createDataFrame([(d,) for d in src_ids], "src_id long")
    expect: dict[int, list] = {d: [] for d in src_ids}
    for r in more_like_this(idx, src, m=8, k=12).orderBy("src_id", "rank").collect():
        expect[r["src_id"]].append((r["doc_id"], r["score"]))
    for d in src_ids:
        got = reader.more_like_this(d, m=8, top_k=12)
        assert [x for x, _ in got] == [x for x, _ in expect[d]], d
        for (_, gs), (_, es) in zip(got, expect[d]):
            assert gs == pytest.approx(es, abs=1e-9)
        assert d not in [x for x, _ in got]
        assert len(got) > 0
    # unknown doc -> empty
    assert reader.more_like_this(10_000_000) == []


def test_reader_collapse_hosts_matches_cluster_op(spark, served):
    """Replica host collapsing == cluster collapse_topk keyed on the parsed
    url host: same docs, order, scores; pagination tiles the collapsed
    sequence."""
    from neural_search_spark.functions.urls import url_parse
    from neural_search_spark.index.docmap import assign_doc_ids
    from neural_search_spark.index.stats import build_logical_index
    from neural_search_spark.query.rescore import collapse_topk

    index, reader = served
    corpus = assign_doc_ids(
        index.docmap.sparkSession.read.parquet(
            reader.root.rsplit("/idx", 1)[0] + "/corpus"
        )
    )
    idx = build_logical_index(corpus, persist=True)
    hosts = url_parse(corpus).select("doc_id", "host")
    for text, per_key in [("w0005 w0010", 1), ("w0000 w0002 w0007", 2)]:
        q = spark.createDataFrame(
            [(0, text, 50)], "query_id int, query_text string, top_k int"
        )
        expect = [
            (r["doc_id"], r["score"])
            for r in collapse_topk(
                idx, q, hosts, "host", per_key=per_key, positive_only=False
            ).orderBy("rank").collect()
        ]
        got = reader.query(
            text, top_k=50, positive_only=False, collapse_hosts=per_key
        )
        assert [d for d, _ in got] == [d for d, _ in expect], (text, per_key)
        for (_, gs), (_, es) in zip(got, expect):
            assert gs == pytest.approx(es, abs=1e-9)
    # at most per_key docs per host, strictly fewer rows than uncollapsed
    flat = reader.query("w0005 w0010", top_k=400, positive_only=False)
    c1 = reader.query("w0005 w0010", top_k=400, positive_only=False,
                      collapse_hosts=1)
    assert len(c1) < len(flat)
    # pagination tiles the COLLAPSED sequence
    p0 = reader.query("w0005 w0010", top_k=5, positive_only=False,
                      collapse_hosts=1)
    p1 = reader.query("w0005 w0010", top_k=5, positive_only=False,
                      collapse_hosts=1, offset=5)
    assert p0 + p1 == c1[:10]
    cur = (p0[-1][1], p0[-1][0])  # (score, doc_id) of last hit
    pa = reader.query("w0005 w0010", top_k=5, positive_only=False,
                      collapse_hosts=1, search_after=cur)
    assert pa == p1


def test_reader_query_bool_min_should_match_matches_cluster(spark, served):
    """Replica msm == cluster op msm: same docs, order, scores; strictly
    fewer docs than the unconstrained query; n > distinct shoulds -> []."""
    from neural_search_spark.index.docmap import assign_doc_ids
    from neural_search_spark.index.stats import build_logical_index
    from neural_search_spark.query.boolean import bm25_topk_bool, bool_terms_df

    index, reader = served
    corpus = index.docmap.sparkSession.read.parquet(
        reader.root.rsplit("/idx", 1)[0] + "/corpus"
    )
    idx = build_logical_index(assign_doc_ids(corpus), persist=True)
    text = "w0005 w0010 w0001"
    full = reader.query_bool(text, top_k=400)
    for msm in (2, 3):
        bt = bool_terms_df(spark, [(0, text, 400)])
        expect = [
            (r["doc_id"], r["score"])
            for r in bm25_topk_bool(idx, bt, min_should_match=msm)
            .orderBy("rank")
            .collect()
        ]
        got = reader.query_bool(text, top_k=400, min_should_match=msm)
        assert [d for d, _ in got] == [d for d, _ in expect], msm
        for (_, gs), (_, es) in zip(got, expect):
            assert gs == pytest.approx(es, abs=1e-9)
        assert len(got) < len(full)
    assert reader.query_bool(text, top_k=10, min_should_match=4) == []
    # must + msm compose: the must filter applies on top of the should count
    combo = reader.query_bool("+w0005 w0010 w0001", top_k=400, min_should_match=1)
    must_ids = {d for d, _ in reader.query_bool("+w0005", top_k=400)}
    assert combo and all(d in must_ids for d, _ in combo)


def test_reader_query_bool_allowed_docs_compose(served):
    _, reader = served
    full = reader.query_bool("+w0005 w0010", top_k=100)
    allowed = [d for d, _ in full[::2]]
    got = reader.query_bool("+w0005 w0010", top_k=100, allowed_docs=allowed)
    assert [d for d, _ in got] == [d for d in allowed]


def test_reader_pagination_tiles_the_ranking(served):
    _, reader = served
    text = "w0000 w0002 w0007"
    full = reader.query(text, top_k=30, positive_only=False)
    pages = [
        reader.query(text, top_k=10, positive_only=False, offset=off)
        for off in (0, 10, 20)
    ]
    assert pages[0] + pages[1] + pages[2] == full
    # stability: the same page twice is identical (one snapshot)
    assert reader.query(text, top_k=10, positive_only=False, offset=10) == pages[1]
    # past-the-end offset is empty, not an error
    assert reader.query(text, top_k=10, positive_only=False, offset=10_000) == []


def test_reader_pagination_cache_keying(served):
    from neural_search_spark.query.cache import TtlLruCache
    from neural_search_spark.query.serve import IndexReader

    reader = IndexReader(served[1].root, cache=TtlLruCache())
    text = "w0001 w0005"
    p0 = reader.query(text, top_k=5, positive_only=False)
    p1 = reader.query(text, top_k=5, positive_only=False, offset=5)
    assert p0 != p1
    # both pages now cached; repeat hits must return their own page
    assert reader.query(text, top_k=5, positive_only=False) == p0
    assert reader.query(text, top_k=5, positive_only=False, offset=5) == p1


def test_reader_bool_pagination(served):
    _, reader = served
    text = "+w0000 w0002"
    full = reader.query_bool(text, top_k=20, positive_only=False)
    p0 = reader.query_bool(text, top_k=10, positive_only=False)
    p1 = reader.query_bool(text, top_k=10, positive_only=False, offset=10)
    assert p0 + p1 == full


def test_reader_search_after_tiles_with_offset_paging(served):
    """Cursor pagination must walk the same total order as offset paging:
    feeding each page's last (score, doc_id) back as search_after reproduces
    the offset-paged tiling exactly."""
    _, reader = served
    text = "w0000 w0002 w0007"
    full = reader.query(text, top_k=10_000, positive_only=False)
    pages, cursor = [], None
    while True:
        page = reader.query(
            text, top_k=10, positive_only=False, search_after=cursor
        )
        if not page:
            break
        pages.append(page)
        cursor = (page[-1][1], page[-1][0])  # (score, doc_id) of last hit
    assert sum(pages, []) == full
    # a cursor past the end is empty, not an error
    last = (full[-1][1], full[-1][0])
    assert reader.query(text, top_k=10, positive_only=False, search_after=last) == []


def test_reader_search_after_bool_and_cache_keying(served):
    from neural_search_spark.query.cache import TtlLruCache
    from neural_search_spark.query.serve import IndexReader

    reader = IndexReader(served[1].root, cache=TtlLruCache())
    text = "+w0000 w0002"
    p0 = reader.query_bool(text, top_k=10, positive_only=False)
    cur = (p0[-1][1], p0[-1][0])
    p1 = reader.query_bool(text, top_k=10, positive_only=False, search_after=cur)
    assert p1 == reader.query_bool(text, top_k=10, positive_only=False, offset=10)
    # cached pages keyed by cursor: repeats return their own page
    assert reader.query_bool(text, top_k=10, positive_only=False) == p0
    assert (
        reader.query_bool(text, top_k=10, positive_only=False, search_after=cur)
        == p1
    )


def test_reader_search_after_within_tied_scores(served):
    """The cursor must split TIES correctly: docs with the cursor's exact
    score but a higher doc_id belong to the next page."""
    _, reader = served
    text = "w0001"
    full = reader.query(text, top_k=100, positive_only=False, score_rounding=2)
    # find a run of equal rounded scores spanning at least 2 docs
    run_start = next(
        (i for i in range(len(full) - 1) if full[i][1] == full[i + 1][1]), None
    )
    assert run_start is not None, "fixture corpus should produce 2dp ties"
    cursor = (full[run_start][1], full[run_start][0])
    nxt = reader.query(
        text, top_k=5, positive_only=False, score_rounding=2, search_after=cursor
    )
    assert nxt == full[run_start + 1 : run_start + 6]


def test_reader_phrase_and_near_on_positional_index(spark, tmp_path_factory):
    """Replica phrase + NEAR parity with the cluster operators on a
    positional index."""
    from neural_search_spark.query.phrase import (
        phrase_topk_indexed,
        proximity_topk_indexed,
    )

    root = tmp_path_factory.mktemp("posserve")
    rows = [
        (0, "u0", "alpha beta gamma delta alpha beta"),
        (1, "u1", "beta alpha delta gamma"),
        (2, "u2", "alpha x x x beta"),
        (3, "u3", "unrelated words only"),
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, url string, text string")
    out = str(root / "idx")
    # shard 0 holds docs 0-2, so alpha's and beta's chains there have 2 blocks
    build_index(
        corpus, out, id_col="doc_id",
        layout=IndexLayout(docs_per_shard=3, block_size=2), n_buckets=2,
        store_positions=True,
    )
    reader = IndexReader(out)

    got_ph = reader.query_phrase("alpha beta", top_k=10)
    want_ph = sorted(
        (
            (r["doc_id"], r["phrase_tf"])
            for r in phrase_topk_indexed(
                load_index(spark, out), spark, [(0, "alpha beta", 10)]
            ).collect()
        ),
        key=lambda x: (-x[1], x[0]),
    )
    assert got_ph == want_ph
    assert got_ph[0] == (0, 2)  # doc 0 contains "alpha beta" twice

    got_nr = reader.query_near("alpha beta", max_span=5, top_k=10)
    want_nr = sorted(
        (
            (r["doc_id"], r["min_window"])
            for r in proximity_topk_indexed(
                load_index(spark, out), spark, [(0, "alpha beta", 10, 5)]
            ).collect()
        ),
        key=lambda x: (x[1], x[0]),
    )
    assert got_nr == want_nr
    assert (1, 2) in got_nr and (0, 2) in got_nr and (2, 5) in got_nr

    # a second phrase/NEAR read is served from the decoded positional
    # groups; on groups of one block, rows shuffled, the two-block chains
    # are cut by row-group boundaries and the answers stay the same
    read = dict(reader.postings_read)
    assert reader.query_phrase("alpha beta", top_k=10) == got_ph
    assert reader.query_near("alpha beta", max_span=5, top_k=10) == got_nr
    assert reader.postings_read["row_groups_read"] == read["row_groups_read"]
    assert reader.postings_read["row_group_hits"] > read["row_group_hits"]
    assert all(pos and g.positions is not None and g.nbytes == _decoded_bytes(g)
               for (_, _, pos), g in reader._rg_cache.items())
    tiny = str(root / "tiny")
    _rewrite_postings(out, tiny, files_per_shard=1, row_group_size=1, shuffle=True)
    cut = IndexReader(tiny)
    assert cut.query_phrase("alpha beta", top_k=10) == got_ph
    assert cut.query_near("alpha beta", max_span=5, top_k=10) == got_nr
    assert cut.query_near("alpha beta", max_span=5, top_k=10, ordered=True) == (
        reader.query_near("alpha beta", max_span=5, top_k=10, ordered=True))
    groups_per_chain: dict = {}
    for (fi, _rg, _pos), g in cut._rg_cache.items():
        for t in g.terms.tolist():
            groups_per_chain[(t, fi)] = groups_per_chain.get((t, fi), 0) + 1
    assert max(groups_per_chain.values()) > 1

    # a flat read of the same row groups is cached without positions;
    # phrase and NEAR still read and decode the positions
    warm = IndexReader(out)
    warm.query("alpha beta", top_k=10)
    assert warm._rg_cache and not any(pos for _, _, pos in warm._rg_cache)
    assert warm.query_phrase("alpha beta", top_k=10) == got_ph
    assert warm.query_near("alpha beta", max_span=5, top_k=10) == got_nr

    # non-positional index refuses with a clear error
    flat_out = str(root / "flat")
    build_index(
        corpus, flat_out, id_col="doc_id",
        layout=IndexLayout(docs_per_shard=2, block_size=2), n_buckets=2,
    )
    flat_reader = IndexReader(flat_out)
    with pytest.raises(ValueError, match="positions"):
        flat_reader.query_phrase("alpha beta")
    with pytest.raises(ValueError, match="positions"):
        flat_reader.query_near("alpha beta", max_span=3)


def test_reader_hydrate_content_and_snippet(spark, served):
    """Hydration returns each hit's url + full content (the reference's
    response shape) and a best-window snippet matching the cluster
    snippet operator."""
    from neural_search_spark.functions.snippets import best_snippets
    from neural_search_spark.index.docmap import assign_doc_ids

    index, base_reader = served
    corpus_path = base_reader.root.rsplit("/idx", 1)[0] + "/corpus"
    reader = IndexReader(base_reader.root, corpus_path=corpus_path)
    text = "w0005 w0010"
    hits = reader.query(text, top_k=5)
    hd = reader.hydrate([d for d, _ in hits], query=text, snippet_window=8)
    assert set(hd) == {d for d, _ in hits}

    corpus = assign_doc_ids(spark.read.parquet(corpus_path))
    rows = {
        r["doc_id"]: (r["url"], r["text"])
        for r in corpus.where(
            F.col("doc_id").isin([d for d, _ in hits])
        ).collect()
    }
    for d, rec in hd.items():
        assert (rec["url"], rec["content"]) == rows[d]
        assert "snippet" in rec and rec["snippet_hits"] >= 1

    # snippet parity with the cluster operator
    want = {
        r["doc_id"]: (r["start"], r["n_hits"], r["snippet"])
        for r in best_snippets(
            corpus.where(F.col("doc_id").isin([d for d, _ in hits])),
            ["w0005", "w0010"],
            window=8,
        ).collect()
    }
    for d, rec in hd.items():
        _start, hits_n, snip = want[d]
        assert rec["snippet"] == snip and rec["snippet_hits"] == hits_n

    # no corpus configured -> clear error
    with pytest.raises(ValueError, match="corpus"):
        base_reader.hydrate([0])


def test_cli_serve_hydrate(served):
    """The serve loop's {"hydrate": true} request returns url + content +
    snippet per hit."""
    import json
    import subprocess
    import sys

    _, base_reader = served
    corpus_path = base_reader.root.rsplit("/idx", 1)[0] + "/corpus"
    req = json.dumps(
        {"query": "w0005 w0010", "top_k": 2, "hydrate": True, "snippet_window": 8}
    )
    proc = subprocess.run(
        [sys.executable, "-m", "neural_search_spark.cli", "serve",
         "--index", base_reader.root, "--corpus", corpus_path],
        input=req + "\n",
        capture_output=True, text=True, timeout=120, cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr
    line = json.loads(proc.stdout.strip().splitlines()[0])
    assert len(line["hits"]) == 2
    for h in line["hits"]:
        assert h["url"] and h["content"] and "snippet" in h


def test_cli_serve_health_and_stats(served):
    """{"health"} / {"stats"} request lines mirror the reference's GET
    /health and GET /metrics endpoints (reference main.py:129,156): liveness
    plus what the replica loaded, and request counters + cache hit rates +
    corpus stats — on the same stdin loop as every other request form."""
    import json
    import subprocess
    import sys

    _, base_reader = served
    lines = [
        json.dumps({"health": True}),
        json.dumps({"query": "w0005 w0010", "top_k": 2}),
        json.dumps({"query": "w0005 w0010", "top_k": 2}),
        json.dumps({"stats": True}),
        json.dumps({"query": "w0005", "top_k": 0}),  # a bad query
        "{bad",  # a line that does not parse
        json.dumps({"stats": True}),
    ]
    proc = subprocess.run(
        [sys.executable, "-m", "neural_search_spark.cli", "serve",
         "--index", base_reader.root],
        input="\n".join(lines) + "\n",
        capture_output=True, text=True, timeout=120, cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr
    out = [json.loads(ln) for ln in proc.stdout.strip().splitlines()]
    assert len(out) == 7
    health = out[0]
    assert health["status"] == "healthy"
    assert health["mode"] == "single"
    assert health["n_docs"] == 400
    assert health["n_terms"] > 0
    assert health["version"]
    stats = out[3]
    assert stats["requests"]["requests"] == 4
    assert stats["requests"]["searches"] == 2
    assert stats["requests"]["search_ms_total"] > 0
    # the repeated identical query hits the postings cache the second time
    assert stats["cache"]["hits"] > 0
    assert stats["cache"]["entries"] > 0
    assert stats["index"]["n_docs"] == 400
    assert stats["index"]["avgdl"] > 0
    assert stats["uptime_s"] >= 0
    # the first query read posting row groups; the cached repeat read none
    assert stats["postings"]["files"] > 0
    assert 0 < stats["postings"]["row_groups_read"] <= stats["postings"]["row_groups_total"]
    # the read row groups stay decoded in the replica
    assert stats["postings"]["row_group_hits"] == 0
    assert stats["postings"]["row_group_cache_bytes"] > 0
    # per-kind counts of the answered requests
    assert stats["kinds"]["query"] == {"count": 2, "errors": 0}
    assert stats["kinds"]["health"] == {"count": 1, "errors": 0}
    later = out[6]
    assert later["requests"]["requests"] == 7
    assert later["requests"]["searches"] == 2
    assert later["kinds"]["query"] == {"count": 3, "errors": 1}
    assert later["kinds"]["invalid"] == {"count": 1, "errors": 1}
    # like "requests", the counts include the stats request answering them
    assert later["kinds"]["stats"] == {"count": 2, "errors": 0}


def test_cli_serve_health_exempt_from_rate_limit(served):
    """Probes answer BEFORE the rate limiter and do not consume slots: a
    replica under query load must still report healthy (the reference's
    GET /health never rate-limits), or the orchestrator drains it exactly
    when it is busiest."""
    import json
    import subprocess
    import sys

    _, base_reader = served
    lines = [
        json.dumps({"query": "w0005 w0010", "top_k": 2}),  # burns the 1 slot
        json.dumps({"health": True}),
        json.dumps({"stats": True}),
        json.dumps({"query": "w0005 w0010", "top_k": 2}),  # over the limit
        json.dumps({"health": True}),
    ]
    proc = subprocess.run(
        [sys.executable, "-m", "neural_search_spark.cli", "serve",
         "--index", base_reader.root,
         "--rate-limit", "1", "--rate-window", "3600"],
        input="\n".join(lines) + "\n",
        capture_output=True, text=True, timeout=120, cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr
    out = [json.loads(ln) for ln in proc.stdout.strip().splitlines()]
    assert len(out) == 5
    assert "hits" in out[0]
    assert out[1]["status"] == "healthy"
    assert out[2]["requests"]["requests"] >= 3
    assert out[3]["error"] == "rate limited"  # queries ARE limited
    assert out[4]["status"] == "healthy"  # ... health still is not


def test_multireader_scatter_gather_equals_merged_index(spark, tmp_path_factory):
    """MultiReader over partial indexes == IndexReader over the physical
    merge: same doc ids (merged id space), same scores (1e-9) — the global
    stats exchange makes naive-scatter-gather's local-idf skew impossible."""
    from neural_search_spark.index.merge import merge_indexes
    from neural_search_spark.query.serve_multi import MultiReader

    root = tmp_path_factory.mktemp("multi")
    a_path, b_path = str(root / "ca"), str(root / "cb")
    write_corpus_parquet(spark, a_path, n_docs=200)
    # disjoint url space for b (merge requires disjoint corpora)
    b_corpus = (
        spark.read.parquet(a_path)
        .limit(150)
        .select(F.concat(F.lit("b-"), F.col("url")).alias("url"), "text")
    )
    b_dir = str(root / "cb_pq")
    b_corpus.write.parquet(b_dir)

    layout = IndexLayout(docs_per_shard=64, block_size=16)
    a_idx_dir, b_idx_dir = str(root / "ia"), str(root / "ib")
    build_index(spark.read.parquet(a_path), a_idx_dir, layout=layout, n_buckets=4)
    build_index(spark.read.parquet(b_dir), b_idx_dir, layout=layout, n_buckets=4)

    merged_dir = str(root / "merged")
    merge_indexes(spark, a_idx_dir, b_idx_dir, merged_dir)
    merged_reader = IndexReader(merged_dir)
    multi = MultiReader([a_idx_dir, b_idx_dir])

    assert multi.n_docs == 350
    for text in ("w0005 w0010", "w0001", "w0000 w0002 w0007", "nosuchterm"):
        for positive_only in (True, False):
            want = merged_reader.query(text, top_k=15, positive_only=positive_only)
            got = multi.query(text, top_k=15, positive_only=positive_only)
            assert [d for d, _ in got] == [d for d, _ in want], (text, positive_only)
            for (_, gs), (_, ws) in zip(got, want):
                assert gs == pytest.approx(ws, abs=1e-9)

    # pagination slices the same global order
    full = multi.query("w0005 w0010", top_k=30, positive_only=False)
    p2 = multi.query("w0005 w0010", top_k=10, positive_only=False, offset=10)
    assert p2 == full[10:20]
    with pytest.raises(ValueError, match="offset must be >= 0"):
        multi.query("w0005 w0010", top_k=3, offset=-2)


def test_multireader_rejects_incompatible_partials(spark, tmp_path_factory):
    from neural_search_spark.query.serve_multi import MultiReader

    root = tmp_path_factory.mktemp("multibad")
    c_path = str(root / "c")
    write_corpus_parquet(spark, c_path, n_docs=60)
    corpus = spark.read.parquet(c_path)
    flat, stem = str(root / "flat"), str(root / "stem")
    layout = IndexLayout(docs_per_shard=64, block_size=16)
    build_index(corpus, flat, layout=layout, n_buckets=2)
    build_index(corpus, stem, layout=layout, n_buckets=2, analyzer="stem")
    with pytest.raises(ValueError, match="analyzer"):
        MultiReader([flat, stem])


def test_cli_serve_shards_scatter_gather(spark, tmp_path_factory):
    """`serve --shards` answers with merged-index-identical results and
    refuses the single-index-only request forms with explicit errors."""
    import json
    import subprocess
    import sys

    from neural_search_spark.index.merge import merge_indexes

    root = tmp_path_factory.mktemp("multicli")
    a_path = str(root / "ca")
    write_corpus_parquet(spark, a_path, n_docs=120)
    b_corpus = (
        spark.read.parquet(a_path)
        .limit(80)
        .select(F.concat(F.lit("b-"), F.col("url")).alias("url"), "text")
    )
    b_dir = str(root / "cb_pq")
    b_corpus.write.parquet(b_dir)
    layout = IndexLayout(docs_per_shard=64, block_size=16)
    ia, ib = str(root / "ia"), str(root / "ib")
    build_index(spark.read.parquet(a_path), ia, layout=layout, n_buckets=2)
    build_index(spark.read.parquet(b_dir), ib, layout=layout, n_buckets=2)
    merged = str(root / "merged")
    merge_indexes(spark, ia, ib, merged)
    want = IndexReader(merged).query("w0005 w0010", top_k=5)

    reqs = "\n".join(
        [
            '{"query": "w0005 w0010", "top_k": 5}',
            '{"query": "+w0005", "bool": true}',
            '{"suggest": "w005"}',
            '{"stats": true}',
        ]
    )
    proc = subprocess.run(
        [sys.executable, "-m", "neural_search_spark.cli", "serve",
         "--index", ia, "--shards", ib],
        input=reqs + "\n",
        capture_output=True, text=True, timeout=120, cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr
    lines = [json.loads(x) for x in proc.stdout.strip().splitlines()]
    got = [(h["doc_id"], h["score"]) for h in lines[0]["hits"]]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, abs=1e-9)
    assert "not supported" in lines[1]["error"]
    assert "not supported" in lines[2]["error"]
    # the multi-partition replica has no result cache, and reports the
    # global corpus stats it scores with
    stats = lines[3]
    assert stats["cache"] is None
    merged_stats = IndexReader(merged).stats
    assert stats["index"]["n_docs"] == merged_stats["n_docs"] == 200
    assert stats["index"]["avgdl"] == pytest.approx(merged_stats["avgdl"], rel=1e-12)


def test_reader_query_near_ordered_parity(spark, tmp_path_factory):
    """Replica ordered NEAR == the cluster ordered_near operator."""
    from neural_search_spark.query.phrase import ordered_near_topk_indexed

    root = tmp_path_factory.mktemp("onear")
    rows = [
        (0, "alpha x beta y alpha"),
        (1, "beta x alpha"),
        (2, "alpha beta"),
        (3, "gamma delta"),
    ]
    corpus = spark.createDataFrame(
        [(d, f"u{d}", t) for d, t in rows], "doc_id long, url string, text string"
    )
    out = str(root / "idx")
    idx = build_index(
        corpus, out, id_col="doc_id",
        layout=IndexLayout(docs_per_shard=2, block_size=2), n_buckets=2,
        store_positions=True,
    )
    reader = IndexReader(out)
    for text, span in (("alpha beta", 5), ("beta alpha", 5), ("alpha alpha", 10)):
        got = reader.query_near(text, max_span=span, top_k=10, ordered=True)
        want = sorted(
            (
                (r["doc_id"], r["min_window"])
                for r in ordered_near_topk_indexed(
                    idx, spark, [(0, text, 10, span)]
                ).collect()
            ),
            key=lambda x: (x[1], x[0]),
        )
        assert got == want, text
    # ordered vs unordered differ on the reversed-only doc
    assert {d for d, _ in reader.query_near("alpha beta", 5, ordered=True)} == {0, 2}
    assert {d for d, _ in reader.query_near("alpha beta", 5, ordered=False)} == {0, 1, 2}


def test_reader_term_vector_roundtrips_document(spark, served):
    """term_vector recovers exactly the tokenizer's term->tf map for a doc
    (the index is lossless), reading only that doc's shard."""
    from neural_search_spark.functions.tokenize import tokenize_py

    index, reader = served
    corpus_path = reader.root.rsplit("/idx", 1)[0] + "/corpus"
    corpus = spark.read.parquet(corpus_path).orderBy("url").collect()
    for doc_id in (0, 57, 399):
        text = corpus[doc_id]["text"]
        toks = tokenize_py(text)
        want: dict[str, int] = {}
        for t in toks:
            want[t] = want.get(t, 0) + 1
        tv = reader.term_vector(doc_id)
        assert tv["doc_len"] == len(toks)
        assert tv["terms"] == want, doc_id
    # unknown doc -> empty
    assert reader.term_vector(10_000_000)["terms"] == {}


def test_reader_term_vector_positions(spark, tmp_path_factory):
    from neural_search_spark.functions.tokenize import tokenize_py

    root = tmp_path_factory.mktemp("tv")
    rows = [(0, "u0", "a b a c b a"), (1, "u1", "x y")]
    corpus = spark.createDataFrame(rows, "doc_id long, url string, text string")
    out = str(root / "idx")
    build_index(
        corpus, out, id_col="doc_id",
        layout=IndexLayout(docs_per_shard=2, block_size=2), n_buckets=2,
        store_positions=True,
    )
    reader = IndexReader(out)
    tv = reader.term_vector(0, positions=True)
    assert tv["terms"] == {"a": [1, 3, 6], "b": [2, 5], "c": [4]}
    # flat index refuses the positions form
    flat = str(root / "flat")
    build_index(
        corpus, flat, id_col="doc_id",
        layout=IndexLayout(docs_per_shard=2, block_size=2), n_buckets=2,
    )
    with pytest.raises(ValueError, match="positions"):
        IndexReader(flat).term_vector(0, positions=True)


def test_reader_explain_matches_cluster_operator(spark, served):
    """Replica _explain == the oracle-gated cluster bm25_explain for the same
    (query, doc): identical term rows (tf/df/qtf/idf/contrib at the shared
    rounding contract) and the contributions sum to the hit's score."""
    from neural_search_spark.index.stats import build_logical_index
    from neural_search_spark.query.explain import bm25_explain

    index, reader = served
    text = "w0005 w0010 w0005"
    q = spark.createDataFrame(
        [(0, text, 3)], "query_id int, query_text string, top_k int"
    )
    # the logical index over the identical corpus (same docmap order, so the
    # same doc ids by construction)
    from neural_search_spark.index.docmap import assign_doc_ids

    base = spark.read.parquet(str(reader.root).replace("/idx", "/corpus"))
    logical = build_logical_index(assign_doc_ids(base), persist=True)
    cluster = bm25_explain(logical, q, explain_k=1, positive_only=True).collect()
    doc_id = cluster[0]["doc_id"]
    want = {
        r["term"]: (r["tf"], r["df"], r["qtf"], r["idf"], r["contrib"])
        for r in cluster
    }
    got = reader.explain(text, doc_id)
    assert got["doc_id"] == doc_id
    rows = {
        r["term"]: (r["tf"], r["df"], r["qtf"], r["idf"], r["contrib"])
        for r in got["terms"]
    }
    assert rows == want
    assert got["score"] == pytest.approx(
        round(sum(r["contrib"] for r in got["terms"]), 4), abs=2e-4
    )
    assert got["doc_len"] == cluster[0]["doc_len"]


def test_reader_query_dsl_matches_cluster_dsl(spark, served):
    """The SAME DSL request object serves replica-side and cluster-side with
    identical results (match / bool / prefix / wildcard), and unsupported
    forms route back to the cluster with a clear error."""
    from neural_search_spark.index.docmap import assign_doc_ids
    from neural_search_spark.index.stats import build_logical_index
    from neural_search_spark.query.dsl import search_dsl

    index, reader = served
    base = spark.read.parquet(str(reader.root).replace("/idx", "/corpus"))
    logical = build_logical_index(assign_doc_ids(base), persist=True)
    reqs = [
        {"query": {"match": {"query": "w0005 w0010"}}, "top_k": 8},
        {"query": {"bool": {"must": ["w0005"], "should": ["w0010", "w0001"],
                            "minimum_should_match": 1}}, "top_k": 8},
        {"query": {"prefix": "w000"}, "top_k": 8},
        {"query": {"wildcard": "w00?5"}, "top_k": 8},
    ]
    for req in reqs:
        want = [
            (r["doc_id"], r["score"])
            for r in search_dsl(logical, req, positive_only=False)
            .orderBy("rank")
            .collect()
        ]
        got = reader.query_dsl(req)
        assert [d for d, _ in got] == [d for d, _ in want], req
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, abs=1e-9)

    # more_like_this routes to the replica implementation
    src = reader.query("w0005", top_k=1)[0][0]
    assert reader.query_dsl(
        {"query": {"more_like_this": src}, "top_k": 5}
    ) == reader.more_like_this(src, top_k=5)

    # cluster-side-only forms refuse with a routing error
    with pytest.raises(ValueError, match="cluster-side-only"):
        reader.query_dsl({"query": {"match": {"query": "x"}},
                          "collapse": {"field": "site"}})
    with pytest.raises(ValueError, match="positions"):
        reader.query_dsl({"query": {"match_phrase": {"query": "w0005 w0010"}}})
    with pytest.raises(ValueError, match="similarity"):
        reader.query_dsl({"query": {"match": {"query": "x",
                                              "similarity": "lm_dirichlet"}}})


def test_cli_serve_request_bounds(served):
    """Serving-boundary validation parity with the reference's API schemas:
    top_k outside [1,100] (api/schemas.py:58-73), empty query strings, and
    >100-query batches (api/search.py:89-98) are ERROR LINES — the loop keeps
    serving — while a valid batch answers every query."""
    import json
    import subprocess
    import sys

    _, reader = served
    lines = [
        json.dumps({"query": "w0005", "top_k": 0}),
        json.dumps({"query": "w0005", "top_k": 101}),
        json.dumps({"query": "   "}),
        json.dumps({"phrase": "w0005 w0010", "top_k": 500}),
        json.dumps({"queries": ["w0005 w0010", "w0001"], "top_k": 3}),
        json.dumps({"queries": ["w0005"] * 101}),
        json.dumps({"queries": []}),
        json.dumps({"query": "w0005 w0010", "top_k": 3}),  # loop still alive
        json.dumps({"query": "w0005", "filter_ids": "abc"}),
        json.dumps({"query": "w0005 w0010", "top_k": 3}),
        json.dumps({"explain": "w0005"}),
        json.dumps({"query": "w0005 w0010", "top_k": 3}),
        json.dumps({"query": "w0005 w0010", "offset": -2, "top_k": 3}),
        json.dumps({"query": "w0005 w0010", "top_k": 3}),
    ]
    proc = subprocess.run(
        [sys.executable, "-m", "neural_search_spark.cli", "serve",
         "--index", reader.root],
        input="\n".join(lines) + "\n",
        capture_output=True, text=True, timeout=120, cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr
    out = [json.loads(l) for l in proc.stdout.strip().splitlines()]
    assert len(out) == len(lines)
    assert "top_k must be in [1, 100]" in out[0]["error"]
    assert "top_k must be in [1, 100]" in out[1]["error"]
    assert "non-empty" in out[2]["error"]
    assert "top_k must be in [1, 100]" in out[3]["error"]
    batch = out[4]["results"]
    assert [r["query"] for r in batch] == ["w0005 w0010", "w0001"]
    # batch answers == the single-query path on the same snapshot
    expect = reader.query("w0005 w0010", top_k=3)
    assert [(h["doc_id"], h["score"]) for h in batch[0]["hits"]] == [
        (d, s) for d, s in expect
    ]
    assert "limited to 100" in out[5]["error"]
    assert "non-empty list" in out[6]["error"]
    assert "filter_ids must be a list of integer" in out[8]["error"]
    assert "doc_id" in out[10]["error"] and out[10]["error"] != "'doc_id'"
    assert "offset must be >= 0" in out[12]["error"]
    for i in (7, 9, 11, 13):
        assert len(out[i]["hits"]) == 3
    with pytest.raises(ValueError, match="offset must be >= 0"):
        reader.query("w0005 w0010", top_k=3, offset=-1)


# the repo root, so ``python -m neural_search_spark.cli`` resolves
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# request lines that once answered a plausible page (a fractional, negative
# or NaN number), each with the field its error must name
FIELD_ERRORS = {
    '{"query": "w0005", "top_k": 3.7}': "top_k",
    '{"query": "w0005", "collapse_hosts": -1}': "collapse_hosts",
    '{"more_like_this": 0, "m": -1}': "m must be",
    '{"query": "w0005", "search_after": [NaN, 1]}': "search_after[0]",
    '{"dsl": {"query": {"match": "w0005"}, "top_k": 3.7}}': "top_k",
    '{"near": "w0005 w0010", "span": 0}': "span",
}

# request lines that must each get one error reply and leave the replica
# serving: numbers no int can hold, ids past int64, JSON nested past the
# parser's recursion limit, and malformed shapes of every request form
MALFORMED_LINES = [
    '{"query": "w0005", "top_k": 1e400}',
    '{"query": "w0005", "offset": 1e400}',
    '{"query": "w0005", "search_after": [1.0, 1e400]}',
    '{"query": "w0005", "minimum_should_match": 1e400}',
    '{"query": "w0005", "collapse_hosts": 1e400}',
    '{"query": "w0005", "snippet_window": 1e400}',
    '{"near": "w0005 w0010", "span": 1e400}',
    '{"suggest": "w005", "n": 1e400}',
    '{"mget": 1e400}',
    '{"termvectors": 1e400}',
    '{"more_like_this": 1e400}',
    '{"explain": "w0005", "doc_id": 1e400}',
    '{"dsl": {"query": {"match": "w0005"}, "top_k": 1e400}}',
    '{"query": "w0005", "filter_ids": [99999999999999999999999]}',
    '{"a":' * 100_000,
    "{bad",
    "[1, 2]",
    '{"query": "w0005", "search_after": 5}',
    '{"query": "w0005", "search_after": [1]}',
    '{"mget": 5}',
    '{"queries": [1]}',
    '{"query": "w0005", "top_k": null}',
    '{"dsl": 5}',
    '{"percolate": "x"}',  # no --percolate-queries
    '{"query": "x", "offset": -1}',  # no known term: never reaches the reader
    *FIELD_ERRORS,
]


def test_cli_serve_survives_malformed_lines(served):
    """No input ends a replica: one `serve` process answers every malformed
    line with exactly one error reply and keeps answering the valid query
    after it. A line that is not UTF-8 is read with replacement characters,
    so it is an ordinary query, not a decode error, even where stdin
    decodes strictly (PYTHONIOENCODING=utf-8)."""
    import json
    import subprocess
    import sys

    _, reader = served
    valid = "w0005 w0010"
    lines = [ln for bad in MALFORMED_LINES for ln in (bad, valid)]
    stdin = ("\n".join(lines) + "\n").encode() + b"\xff\xfe w0005\n\n" + valid.encode() + b"\n"
    proc = subprocess.run(
        [sys.executable, "-m", "neural_search_spark.cli", "serve",
         "--index", reader.root],
        input=stdin, capture_output=True, timeout=300, cwd=REPO_ROOT,
        env={**os.environ, "PYTHONIOENCODING": "utf-8"},
    )
    assert proc.returncode == 0, proc.stderr.decode()[-2000:]
    out = [json.loads(ln) for ln in proc.stdout.decode().splitlines()]
    assert len(out) == len(lines) + 2  # one reply per non-empty line
    for i, bad in enumerate(MALFORMED_LINES):
        assert set(out[2 * i]) == {"error"}, (bad[:60], out[2 * i])
        assert "internal error" not in out[2 * i]["error"], bad[:60]
        assert FIELD_ERRORS.get(bad, "") in out[2 * i]["error"], (bad, out[2 * i])
        assert out[2 * i + 1]["hits"], bad[:60]
    assert out[-2]["query"] == "\ufffd\ufffd w0005" and out[-2]["hits"]
    assert out[-1]["hits"]
    assert b"Traceback" not in proc.stderr


def test_cli_serve_match_query_must_be_a_string(served):
    """A non-string ``match``/``match_phrase`` query answers a request error
    that names the field, not an ``internal error``, and the replica keeps
    serving."""
    import json
    import subprocess
    import sys

    _, reader = served
    lines = [
        '{"dsl": {"query": {"match": {"query": 5}}}}',
        '{"dsl": {"query": {"match_phrase": {"query": ["w0005"]}}}}',
        '{"dsl": {"query": {"match": {"query": "w0005"}}}}',
    ]
    proc = subprocess.run(
        [sys.executable, "-m", "neural_search_spark.cli", "serve",
         "--index", reader.root],
        input="\n".join(lines) + "\n", capture_output=True, text=True,
        timeout=300, cwd=REPO_ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = [json.loads(ln) for ln in proc.stdout.splitlines()]
    assert out[0] == {"error": "match.query must be a string, got int"}
    assert out[1] == {"error": "match_phrase.query must be a string, got list"}
    assert out[2]["hits"]


def test_cli_serve_internal_error_is_one_reply(served, tmp_path):
    """A fault that is not the request's own (here a ``:refresh`` of an
    index that lost its corpus_stats) answers one ``internal error`` line
    and logs its traceback, and the replica keeps serving its snapshot."""
    import json
    import shutil
    import subprocess
    import sys

    _, reader = served
    root = str(tmp_path / "idx")
    shutil.copytree(reader.root, root)
    proc = subprocess.Popen(
        [sys.executable, "-m", "neural_search_spark.cli", "serve", "--index", root],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True, cwd=REPO_ROOT,
    )

    def ask(line):
        proc.stdin.write(line + "\n")
        proc.stdin.flush()
        return json.loads(proc.stdout.readline())

    first = ask("w0005 w0010")
    shutil.rmtree(os.path.join(root, "corpus_stats"))
    failed = ask(":refresh")
    again = ask("w0005 w0010")
    proc.stdin.close()
    assert proc.wait(60) == 0
    stderr = proc.stderr.read()
    proc.stdout.close()
    proc.stderr.close()
    assert failed == {"error": failed["error"]}
    assert failed["error"].startswith("internal error: FileNotFoundError: ")
    assert "Traceback" in stderr and "FileNotFoundError" in stderr
    assert again["hits"] == first["hits"]


def test_reader_query_dsl_top_k_bound(served):
    """The replica's request-object boundary rejects out-of-range top_k."""
    import pytest as _pytest

    _, reader = served
    with _pytest.raises(ValueError, match=r"top_k must be in \[1, 100\]"):
        reader.query_dsl({"query": {"match": "w0005"}, "top_k": 0})
    with _pytest.raises(ValueError, match=r"top_k must be in \[1, 100\]"):
        reader.query_dsl({"query": {"match": "w0005"}, "top_k": 1000})
