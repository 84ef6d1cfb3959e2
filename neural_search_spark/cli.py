"""spark-submit entry points (the north-rule deployment surface).

Usage (the package zip goes out with --py-files):

    zip -r nss.zip neural_search_spark
    spark-submit --master <cluster> --py-files nss.zip -m neural_search_spark.cli ...

or, since ``-m`` needs the file on the driver, the equivalent thin launcher:

    spark-submit --py-files nss.zip cli.py build --input <corpus> --output <index dir>
    spark-submit --py-files nss.zip cli.py add     --input <corpus> --new <batch> --output <dir>
    spark-submit --py-files nss.zip cli.py remove  --input <corpus> --output <dir> --urls u1,u2
    spark-submit --py-files nss.zip cli.py query   --index <dir> --query "terms..." --top-k 10
    spark-submit --py-files nss.zip cli.py batch-query --index <dir> --queries <parquet> --out <parquet>
    spark-submit --py-files nss.zip cli.py stream-ingest --input <dir> --output <dir> --checkpoint <dir>

``serve`` is the one subcommand that needs NO Spark at all (IndexReader +
pyarrow only — run it with plain ``python cli.py serve ...`` on a serving
replica): queries on stdin, one JSON result line each, millisecond warm
latency, TTL+LRU caching on by default.

Replaces the reference's FastAPI/Celery surface (SURVEY.md §3): documents in
= ``build``/``add``/``stream-ingest``; search = ``query``/``batch-query``;
interactive search = ``serve`` (api/main.py analog);
job progress = the _metrics lineage table + checkpoint manifest.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _spark(app: str):
    from pyspark.sql import SparkSession

    return SparkSession.builder.appName(app).getOrCreate()


# Serving-boundary request bounds, mirroring the reference's API schemas:
# top_k ∈ [1, MAX_TOP_K] (api/schemas.py:58-73), ≤100 queries per batch
# request (api/search.py:89-98). Out-of-range is a request ERROR line (the
# analog of the reference's 422), never a silent clamp — callers must see
# their bound.
from .config import MAX_TOP_K, float_field, int_field

BATCH_MAX = 100


def _req_top_k(req: dict, default: int) -> int:
    return int_field(req.get("top_k", default), "top_k", 1, MAX_TOP_K)


def _req_query_text(req: dict) -> str:
    text = req["query"]
    if not isinstance(text, str) or not text.strip():
        raise ValueError("query must be a non-empty string")
    return text


def _layout(args):
    from .config import DEFAULT_LAYOUT, IndexLayout

    return IndexLayout(
        docs_per_shard=args.docs_per_shard or DEFAULT_LAYOUT.docs_per_shard,
        block_size=args.block_size or DEFAULT_LAYOUT.block_size,
    )


def cmd_build(args) -> int:
    from .index.build import build_index

    spark = _spark("nss-build")
    corpus = spark.read.parquet(args.input)
    idx = build_index(
        corpus,
        args.output,
        layout=_layout(args),
        n_buckets=args.buckets,
        waves=args.waves,
        analyzer=args.analyzer or None,
        store_positions=args.positions,
    )
    print(
        json.dumps(
            {
                "n_docs": idx.stats.n_docs,
                "avgdl": idx.stats.avgdl,
                "terms": idx.terms.count(),
                "posting_blocks": idx.postings.count(),
            }
        )
    )
    return 0


def cmd_pack(args) -> int:
    """Training-sequence packing: corpus parquet -> packed layout (or the
    materialized chunk text with --export) + a one-line manifest summary."""
    from pyspark.sql import functions as F

    from .functions.tokenize import doc_lengths, tokenize_udf
    from .index.docmap import assign_doc_ids, find_doc_id_col
    from .operators.packing import chunk_manifest, export_chunks, pack_sequences

    spark = _spark("nss-pack")
    corpus = spark.read.parquet(args.input)
    # one shared resolver with assign_doc_ids' clash guard: a corpus whose
    # doc_id column resolves under the session's rules must use it, not
    # reach assign_doc_ids and die on the clash it rejects
    if find_doc_id_col(corpus) is None:
        corpus = assign_doc_ids(corpus, order_col="url")
    lens = doc_lengths(corpus).withColumnRenamed("doc_len", "n_tokens")
    packed = pack_sequences(lens, args.budget)
    if args.export:
        toks = corpus.select("doc_id", tokenize_udf(F.col("text")).alias("tokens"))
        out = export_chunks(toks, packed, args.budget)
    else:
        out = packed
    out.write.mode("overwrite").parquet(args.output)
    man = chunk_manifest(packed, args.budget).agg(
        F.count(F.lit(1)).alias("chunks"), F.sum("n_tokens").alias("tokens")
    ).collect()[0]
    print(
        json.dumps(
            {
                "budget": args.budget,
                "chunks": int(man["chunks"]),
                "tokens": int(man["tokens"] or 0),
                "exported": bool(args.export),
            }
        )
    )
    return 0


def cmd_sketch(args) -> int:
    """Mergeable-sketch jobs over a parquet input: write the durable partial
    (registers / counters / bin counts) to --output and print the finished
    estimate(s) as one JSON line — the spark-submit surface of the sketch
    tier (build partials per slice, merge downstream without rescans)."""
    from pyspark.sql import functions as F

    if not args.merge_inputs and not (args.input and args.value_col):
        print(json.dumps(
            {"error": "need --input and --value-col, or --merge-inputs"}
        ))
        return 2
    # validate up front, next to the other argument checks: hist_partial
    # raises the same constraint as a ValueError, which would surface as a
    # traceback instead of the JSON-error line every sibling check emits
    # (--bins is also the legacy-partial claim on the merge path)
    if args.kind == "quantiles" and args.bins is not None and args.bins < 2:
        print(json.dumps({"error": f"--bins needs at least 2 bins, got {args.bins}"}))
        return 2
    # None = "not stated": the build path falls back to the historical
    # default (and records it in the partial), while ANY merge touching
    # legacy (nbins-less) partials REQUIRES an explicit claim — a
    # silently-trusted default could launder a wrong bin count into the
    # merged sketch (checked on the merge path below)
    bins = args.bins if args.bins is not None else 256

    from functools import reduce

    from .operators.cms import cms_estimate, cms_merge, cms_partial
    from .operators.histogram import hist_merge, hist_partial, hist_quantiles
    from .operators.sketches import hll_estimate, hll_merge, hll_partial

    spark = _spark("nss-sketch")
    if args.merge_inputs:
        # cross-slice merge: union PERSISTED partials (registers / counters /
        # bins written by earlier `sketch ... --output` runs) and finish —
        # the raw data is never rescanned, which is the whole point of the
        # sketch tier at 10^12 rows
        from pyspark.errors import AnalysisException

        paths = [p.strip() for p in args.merge_inputs.split(",")]
        if not all(paths):
            print(json.dumps({"error": "--merge-inputs has an empty path"}))
            return 2
        try:
            # reads inside the try: a typo'd path is a request error line
            # (exit 2) like every sibling validation, not a traceback
            parts = [spark.read.parquet(p) for p in paths]
            if args.kind == "quantiles":
                # legacy accommodation scoped to the nbins column ONLY:
                # quantile partials persisted before nbins was recorded get
                # the column injected with --bins (the caller's explicit
                # statement of their build-time bin count), then the union
                # stays STRICT — a partial missing a DATA column (cnt/lo/hi)
                # still refuses to union exactly as before, and hist_merge's
                # frame check still rejects a contradicted --bins claim
                has_nbins = ["nbins" in p.columns for p in parts]
                if not all(has_nbins) and args.bins is None:
                    # no silently-trusted default on ANY merge touching
                    # legacy partials: an all-legacy union has no recorded
                    # value to cross-check at all, so defaulting to 256
                    # would mis-scale every estimate if the slices were
                    # built with any other bin count — strictly riskier
                    # than the mixed case, which at least detects a
                    # contradicted claim through the frame check
                    print(json.dumps({
                        "error": "--merge-inputs includes legacy (no "
                                 "recorded nbins) partials: pass "
                                 "--bins to state their build-time "
                                 "bin count"
                    }))
                    return 2
                if not all(has_nbins):
                    # args.bins is guaranteed set here (checked above); the
                    # claim is injected into EVERY legacy partial — including
                    # the all-legacy case — so a merged partial re-persisted
                    # via --output records the stated bin count instead of
                    # staying legacy (a later merge would otherwise need the
                    # claim re-stated, and a wrong re-claim would be
                    # undetectable)
                    print(
                        "note: trusting --bins "
                        f"{args.bins} as the build-time bin count of the "
                        "legacy (nbins-less) partials in --merge-inputs",
                        file=sys.stderr,
                    )
                    parts = [
                        p if ok else p.withColumn("nbins", F.lit(bins))
                        for p, ok in zip(parts, has_nbins)
                    ]
            unioned = reduce(lambda a, b: a.unionByName(b), parts)
        except AnalysisException as exc:
            # keep the JSON-error contract even for un-unionable inputs
            print(json.dumps(
                {"error": f"--merge-inputs unreadable or partials do not "
                          f"union: {exc}"}
            ))
            return 2
        if args.kind == "hll":
            merged = hll_merge(unioned)
            [row] = hll_estimate(merged, p=args.p).collect()
            print(json.dumps({"kind": "hll", "merged": len(parts),
                              "est_distinct": row["est_distinct"]}))
        elif args.kind == "cms":
            merged = cms_merge(unioned)
            top = (
                merged.orderBy(F.desc("cnt")).limit(args.top).collect()
            )
            print(json.dumps({"kind": "cms", "merged": len(parts),
                              "top_counters": [[r["depth"], r["bucket"], r["cnt"]]
                                               for r in top]}))
        else:
            try:
                merged = hist_merge(unioned)
            except ValueError as exc:
                # mixed [lo,hi] frames: report the contract violation as a
                # JSON error line (like every other verb), not a traceback
                print(json.dumps({"error": str(exc)}))
                return 2
            if args.bins is not None and all(has_nbins):
                # all-new merge: the recorded value is authoritative (the
                # documented --bins semantics), but a contradicted explicit
                # claim should not pass without comment — the user's stated
                # belief about the sketch is wrong even though the output
                # is right. Read the value from the first NON-EMPTY
                # pre-union partial (one row of one parquet file) rather
                # than `merged`, whose plan re-executes the whole
                # union+merge; hist_merge's frame check already guaranteed
                # every partial records the same nbins, so any one of them
                # is authoritative
                firsts = (p.select("nbins").first() for p in parts)
                first = next((r for r in firsts if r is not None), None)
                if first is not None and first["nbins"] != args.bins:
                    print(
                        f"note: partials record nbins={first['nbins']}; "
                        f"the recorded value wins over --bins {args.bins}",
                        file=sys.stderr,
                    )
            try:
                qs = [float(x) for x in args.quantiles.split(",")]
                # nbins comes from the partials themselves — recorded at
                # build time for new partials, injected above from the
                # caller's REQUIRED --bins claim for legacy ones — so
                # merging 128-bin partials without --bins cannot mis-scale
                # the estimates and the `bins` fallback argument is never
                # what decides
                rows = hist_quantiles(merged, qs, nbins=bins).collect()
            except ValueError as exc:
                print(json.dumps({"error": str(exc)}))
                return 2
            print(json.dumps({"kind": "quantiles", "merged": len(parts),
                              "est": {str(r["q"]): r["est"] for r in rows}}))
        if args.output:
            merged.write.mode("overwrite").parquet(args.output)
        return 0
    df = spark.read.parquet(args.input)
    if args.kind == "hll":
        partial = hll_partial(df, args.value_col, p=args.p)
        if args.output:
            partial.write.mode("overwrite").parquet(args.output)
            partial = spark.read.parquet(args.output)
        [row] = hll_estimate(partial, p=args.p).collect()
        print(json.dumps({"kind": "hll", "p": args.p,
                          "est_distinct": row["est_distinct"]}))
    elif args.kind == "cms":
        partial = cms_partial(df, args.value_col, d=args.depth, w=args.width)
        if args.output:
            partial.write.mode("overwrite").parquet(args.output)
            partial = spark.read.parquet(args.output)
        est = cms_estimate(
            partial, df.select(args.value_col), args.value_col,
            d=args.depth, w=args.width,
        )
        top = (
            est.orderBy(F.desc("est_count"), F.asc("val")).limit(args.top).collect()
        )
        print(json.dumps({"kind": "cms", "d": args.depth, "w": args.width,
                          "top": [[r["val"], r["est_count"]] for r in top]}))
    else:  # quantiles
        # per-slice DERIVED frames almost never match across slices, so
        # partials meant for a later --merge-inputs MUST pin the frame:
        # --bounds is how the build-partials-then-merge-without-rescan
        # workflow stays usable for quantiles
        bounds = None
        if args.bounds:
            try:
                lo, hi = (float(x) for x in args.bounds.split(","))
            except ValueError:
                print(json.dumps({"error": f"--bounds must be 'lo,hi', got {args.bounds!r}"}))
                return 2
            # `not lo < hi` (rather than `lo >= hi`) also rejects NaN, which
            # would otherwise clamp every value into an edge bin silently
            if not lo < hi:
                print(json.dumps(
                    {"error": f"--bounds needs lo < hi, got {args.bounds!r}"}
                ))
                return 2
            bounds = (lo, hi)
        partial = hist_partial(df, args.value_col, nbins=bins, bounds=bounds)
        if args.output:
            partial.write.mode("overwrite").parquet(args.output)
            partial = spark.read.parquet(args.output)
        try:
            qs = [float(x) for x in args.quantiles.split(",")]
            rows = hist_quantiles(partial, qs, nbins=bins).collect()
        except ValueError as exc:
            print(json.dumps({"error": str(exc)}))
            return 2
        print(json.dumps({"kind": "quantiles", "bins": bins,
                          "est": {str(r["q"]): r["est"] for r in rows}}))
    return 0


def cmd_add(args) -> int:
    from .index.maintenance import add_documents

    spark = _spark("nss-add")
    idx = add_documents(
        spark.read.parquet(args.input), args.output, spark.read.parquet(args.new)
    )
    print(json.dumps({"n_docs": idx.stats.n_docs}))
    return 0


def cmd_remove(args) -> int:
    from .index.maintenance import remove_documents

    spark = _spark("nss-remove")
    idx = remove_documents(
        spark.read.parquet(args.input), args.output, args.urls.split(",")
    )
    print(json.dumps({"n_docs": idx.stats.n_docs}))
    return 0


def cmd_merge(args) -> int:
    from .index.merge import merge_indexes

    spark = _spark("nss-merge")
    idx = merge_indexes(
        spark, args.a, args.b, args.output, check_disjoint=not args.no_disjoint_check
    )
    print(
        json.dumps(
            {
                "n_docs": idx.stats.n_docs,
                "avgdl": idx.stats.avgdl,
                "terms": idx.terms.count(),
                "posting_blocks": idx.postings.count(),
            }
        )
    )
    return 0


def cmd_query(args) -> int:
    from .index.build import load_index
    from .query.bm25_wand import bm25_topk_wand

    spark = _spark("nss-query")
    idx = load_index(spark, args.index)
    q = spark.createDataFrame(
        [(0, args.query, args.top_k)], "query_id int, query_text string, top_k int"
    )
    res = bm25_topk_wand(idx, q, positive_only=not args.match_all)
    rows = (
        res.join(idx.docmap.select("doc_id", "url"), "doc_id")
        .orderBy("rank")
        .collect()
    )
    for r in rows:
        print(json.dumps({"rank": r["rank"], "url": r["url"], "score": r["score"]}))
    return 0


def cmd_batch_query(args) -> int:
    """Bulk mode: queries parquet (query_id, query_text, top_k) joined against
    the index via the one-shuffle DataFrame plan (reference Q10 done right)."""
    from .index.build import load_index
    from .index.maintenance import decode_shard_postings
    from .query.bm25_dataframe import bm25_topk
    from .index.stats import CorpusStats

    spark = _spark("nss-batch-query")
    idx = load_index(spark, args.index)
    shards = [r["shard"] for r in idx.postings.select("shard").distinct().collect()]
    doc_terms = decode_shard_postings(idx, shards).join(
        idx.docmap.select("doc_id", "doc_len"), "doc_id"
    )
    res = bm25_topk(
        doc_terms,
        idx.terms,
        spark.read.parquet(args.queries),
        stats=idx.stats,
        positive_only=not args.match_all,
    )
    res.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"results": spark.read.parquet(args.out).count()}))
    return 0


def cmd_collections(args) -> int:
    """Named-collection catalog verbs (no Spark): the reference's
    vector-store collection surface (storage/vector_store.py:15-77) over
    index roots under ``--base``. Errors are one JSON line + exit 1 so the
    command composes in scripts like the other verbs."""
    from .index.collections import CollectionCatalog, main_lines

    try:
        for line in main_lines(CollectionCatalog(args.base), args.verb, args.name):
            print(line)
    except (KeyError, ValueError) as e:
        print(json.dumps({"error": str(e).strip("'")}))
        return 1
    return 0


def cmd_stats(args) -> int:
    """Index introspection without Spark (the ES ``_stats`` analog): global
    stats, layout, analysis binding, shard count, and on-disk posting bytes
    from the lineage metrics — one JSON line."""
    import os

    import pyarrow.parquet as pq

    srow = pq.read_table(os.path.join(args.index, "corpus_stats")).to_pylist()[0]
    n_terms = pq.read_table(
        os.path.join(args.index, "term_stats"), columns=["term"]
    ).num_rows
    out = {
        "n_docs": int(srow["n_docs"]),
        "avgdl": round(float(srow["avgdl"]), 4),
        "vocabulary": n_terms,
        "k1": srow["k1"],
        "b": srow["b"],
        "epsilon": srow["epsilon"],
        "docs_per_shard": int(srow["docs_per_shard"]),
        "block_size": int(srow["block_size"]),
        "analyzer": srow.get("analyzer") or "",
        "positional": bool(srow.get("positional", False)),
    }
    try:
        m = pq.read_table(os.path.join(args.index, "_metrics")).to_pylist()
        out["n_shards"] = len({r["shard"] for r in m})
        out["n_blocks"] = int(sum(r["n_blocks"] for r in m))
        out["postings_bytes"] = int(
            sum(r["deltas_bytes"] + r["tfs_bytes"] for r in m)
        )
        out["positions_bytes"] = int(
            sum(r.get("positions_bytes") or 0 for r in m)
        )
    except Exception as e:  # noqa: BLE001 — extras are best-effort, but say why
        print(f"warning: _metrics extras unavailable: {e}", file=sys.stderr)
    print(json.dumps(out))
    return 0


# -- serve: the replica's request protocol ------------------------------------
#
# A request line is parsed once (``_parse``) into (kind, request) and
# answered by the kind's handler in ``_HANDLERS``; ``_dispatch`` wraps every
# handler with the rate limiter, the multi-partition capability check, the
# error replies and the per-kind counts. Each handler takes the replica
# state ``s`` (built by ``cmd_serve``) and the request object, and returns
# the reply object.


def _hits(pairs) -> list:
    return [{"doc_id": d, "score": s} for d, s in pairs]


def _snapshot(s) -> str:
    # a multi-partition replica has no single snapshot token
    return "" if s.multi else s.reader.snapshot


def _serve_refresh(s, req) -> dict:
    # picks up a maintenance commit (the analog of the reference
    # re-opening its store)
    s.reader.refresh()
    return {"refreshed": True, "snapshot": _snapshot(s)}


def _serve_health(s, req) -> dict:
    # the reference's GET /health (main.py:129-151): liveness plus what this
    # replica has loaded; never an error
    from . import __version__

    out = {
        "status": "healthy",
        "version": __version__,
        "snapshot": _snapshot(s),
        "mode": "multi" if s.multi else "single",
        "n_terms": len(s.reader.idf),
    }
    if not s.multi:
        out["n_docs"] = int(s.reader.stats["n_docs"])
    return out


def _serve_stats(s, req) -> dict:
    # the reference's GET /metrics (main.py:156-163) as one JSON line:
    # request counters, per-kind counts, cache hit rates (null when the
    # replica has no cache), posting row groups read vs in the directory, and
    # the loaded index's corpus stats (global ones on a multi-partition
    # replica)
    cs = None
    if s.cache is not None:
        st = s.cache.stats
        tot = st.hits + st.misses
        cs = {
            "hits": st.hits,
            "misses": st.misses,
            "hit_rate": round(st.hits / tot, 4) if tot else 0.0,
            "evictions": st.evictions,
            "expirations": st.expirations,
            "entries": s.cache.live_entries(),
        }
    r = s.reader
    parts = r.readers if s.multi else [r]
    srow = {**parts[0].stats, "n_docs": r.n_docs, "avgdl": r.avgdl} if s.multi else r.stats
    return {
        "snapshot": _snapshot(s),
        "uptime_s": round(time.time() - s.t_up, 3),
        "requests": {
            **s.counters,
            "search_ms_total": round(s.counters["search_ms_total"], 3),
        },
        "cache": cs,
        "postings": {
            k: sum(p.postings_read[k] for p in parts)
            for k in ("row_groups_read", "row_group_hits", "row_groups_total",
                      "files", "row_group_cache_bytes")
        },
        "index": {k: srow[k] for k in ("n_docs", "avgdl", "k1", "b")},
        "n_terms": len(r.idf),
        # the live counts, serialized after _dispatch has counted this
        # request too (as "requests" has)
        "kinds": s.kinds,
    }


def _serve_phrase(s, req) -> dict:
    # {"phrase": str, "top_k"?: int}: exact-phrase retrieval from a
    # positional index
    ph = s.reader.query_phrase(req["phrase"], top_k=_req_top_k(req, s.args.top_k))
    return {"phrase": req["phrase"],
            "hits": [{"doc_id": d, "phrase_tf": tf} for d, tf in ph]}


def _serve_near(s, req) -> dict:
    # {"near": str, "span": int, "top_k"?: int, "ordered"?: bool}: proximity
    # from a positional index; ordered=true requires the terms in query
    # order (SpanNear inOrder)
    nh = s.reader.query_near(
        req["near"], max_span=int_field(req["span"], "span", 1),
        top_k=_req_top_k(req, s.args.top_k), ordered=bool(req.get("ordered")),
    )
    return {"near": req["near"],
            "hits": [{"doc_id": d, "min_window": w} for d, w in nh]}


def _serve_mget(s, req) -> dict:
    # {"mget": [doc_id, ...]}: the ES _mget analog, through the hydration
    # path (needs --corpus); unknown ids are absent
    ids = req["mget"]
    if not isinstance(ids, list):
        raise ValueError("mget must be a list of doc ids")
    docs = s.reader.hydrate([int_field(d, "mget") for d in ids])
    return {"docs": [{"doc_id": d, **rec} for d, rec in sorted(docs.items())]}


def _serve_termvectors(s, req) -> dict:
    # {"termvectors": doc_id, "positions"?: bool}: the ES _termvectors
    # analog, recovered from the lossless index
    return s.reader.term_vector(
        int_field(req["termvectors"], "termvectors"),
        positions=bool(req.get("positions")),
    )


def _serve_dsl(s, req) -> dict:
    # {"dsl": {<search_dsl request>}}: the cluster DSL's replica-servable
    # subset (match/bool/match_phrase/prefix/wildcard/more_like_this);
    # cluster-only forms answer a routing error
    if not isinstance(req["dsl"], dict):
        raise ValueError("dsl must be a JSON object")
    return {"hits": _hits(s.reader.query_dsl(req["dsl"], positive_only=not s.args.match_all))}


def _serve_explain(s, req) -> dict:
    # {"explain": "<query text>", "doc_id": id}: the ES _explain analog, the
    # per-term score breakdown of one (query, doc) pair
    return s.reader.explain(str(req["explain"]), int_field(req["doc_id"], "doc_id"))


def _serve_percolate(s, req) -> dict:
    # {"percolate": "<doc text>"}: the ES single-doc percolate API, which
    # saved searches (serve --percolate-queries FILE.jsonl) match this doc
    if s.matcher is None:
        raise ValueError("no --percolate-queries configured")
    return {"matches": s.matcher.match(str(req["percolate"]))}


def _serve_more_like_this(s, req) -> dict:
    # {"more_like_this": doc_id, "m"?: int, "top_k"?: int}: docs similar to
    # an indexed doc (Lucene MLT), its term vector read from the index
    doc_id = int_field(req["more_like_this"], "more_like_this")
    hits = s.reader.more_like_this(
        doc_id, m=int_field(req.get("m", 10), "m", 1),
        top_k=_req_top_k(req, s.args.top_k), positive_only=not s.args.match_all,
    )
    return {"more_like_this": doc_id, "hits": _hits(hits)}


def _serve_suggest(s, req) -> dict:
    # {"suggest": str, "n"?: int}: fuzzy vocabulary suggestion ("did you
    # mean") -> [(term, distance, df)]
    sug = s.reader.suggest(req["suggest"], n=int_field(req.get("n", 3), "n", 1))
    return {"suggest": req["suggest"],
            "suggestions": [{"term": t, "distance": d, "df": df} for t, d, df in sug]}


def _serve_queries(s, req) -> dict:
    # {"queries": [str, ...], "top_k"?: int}: the reference's POST
    # /search/batch (api/search.py:89-98), up to BATCH_MAX queries on one
    # snapshot, one hits array each
    qs = req["queries"]
    if not isinstance(qs, list) or not qs:
        raise ValueError("queries must be a non-empty list")
    if len(qs) > BATCH_MAX:
        raise ValueError(f"batch is limited to {BATCH_MAX} queries, got {len(qs)}")
    if not all(isinstance(q, str) and q.strip() for q in qs):
        raise ValueError("every batch query must be a non-empty string")
    top_k = _req_top_k(req, s.args.top_k)
    positive_only = not s.args.match_all
    return {"results": [
        {"query": q, "hits": _hits(s.reader.query(q, top_k=top_k, positive_only=positive_only))}
        for q in qs
    ]}


def _serve_query(s, req) -> dict:
    # a plain-text line (every option at its default, --top-k as given), or
    # the api/search.py request body:
    # {"query": str, "top_k"?: int, "offset"?: int,
    #  "search_after"?: [score, doc_id], "filter_ids"?: [doc_id, ...],
    #  "bool"?: bool, "minimum_should_match"?: int, "collapse_hosts"?: int,
    #  "hydrate"?: bool, "snippet_window"?: int}
    # filter_ids is the resolved metadata-filter id set, applied pre-rank;
    # offset paginates (ranks offset+1 .. offset+top_k); search_after is the
    # cursor form of deep pagination (the [score, doc_id] of the last hit
    # received); bool reads "+must -not should" clause syntax
    kw = {"top_k": s.args.top_k, "positive_only": not s.args.match_all}
    if isinstance(req, str):
        text, req, window = req, {}, None
    else:
        text = _req_query_text(req)
        kw["top_k"] = _req_top_k(req, s.args.top_k)
        # checked here too: a query with no known term never reaches the
        # reader's own check
        kw["offset"] = int_field(req.get("offset", 0), "offset", 0)
        allowed = req.get("filter_ids")
        if allowed is not None and not (
            isinstance(allowed, list)
            and all(type(d) is int and -(2**63) <= d < 2**63 for d in allowed)
        ):
            raise ValueError("filter_ids must be a list of integer doc ids")
        kw["allowed_docs"] = allowed
        sa = req.get("search_after")
        if sa is not None:
            if not (isinstance(sa, list) and len(sa) == 2):
                raise ValueError("search_after must be [score, doc_id]")
            kw["search_after"] = (float_field(sa[0], "search_after[0]"),
                                  int_field(sa[1], "search_after[1]"))
        msm = int_field(req.get("minimum_should_match", 0), "minimum_should_match", 0)
        collapse = int_field(req.get("collapse_hosts", 0), "collapse_hosts", 0)
        if req.get("bool"):
            kw["min_should_match"] = msm
        elif collapse:
            kw["collapse_hosts"] = collapse
        window = (int_field(req["snippet_window"], "snippet_window", 1)
                  if "snippet_window" in req else None)
    t0 = time.perf_counter()
    hits = (s.reader.query_bool if req.get("bool") else s.reader.query)(text, **kw)
    ms = (time.perf_counter() - t0) * 1000
    s.counters["searches"] += 1
    s.counters["search_ms_total"] += ms
    rows = _hits(hits)
    if req.get("hydrate"):
        hd = s.reader.hydrate([d for d, _ in hits], query=text, snippet_window=window)
        for row in rows:
            row.update(hd.get(row["doc_id"], {}))
    return {"query": text, "latency_ms": round(ms, 3), "hits": rows}


# The protocol: request kind -> handler, in precedence order. A JSON object
# is the first kind whose key it holds; an object with none of them, and a
# plain-text line, is a "query".
_HANDLERS = {
    ":refresh": _serve_refresh,
    "health": _serve_health,
    "stats": _serve_stats,
    "phrase": _serve_phrase,
    "near": _serve_near,
    "mget": _serve_mget,
    "termvectors": _serve_termvectors,
    "dsl": _serve_dsl,
    "explain": _serve_explain,
    "percolate": _serve_percolate,
    "more_like_this": _serve_more_like_this,
    "suggest": _serve_suggest,
    "queries": _serve_queries,
    "query": _serve_query,
}
_JSON_KINDS = [k for k in _HANDLERS if k != ":refresh"]
# liveness/metrics probes (and :refresh) skip the rate limiter: the
# reference's GET /health stays answerable under load, since a probe that
# answered "rate limited" mid-burst would get a healthy-but-busy replica
# drained, and probes must not use up query slots
_UNLIMITED = {":refresh", "health", "stats"}
# what a multi-partition replica (serve --shards, query/serve_multi.py)
# answers; every other kind, and these query options, need one index
_MULTI_KINDS = {":refresh", "health", "stats", "queries", "query"}
_SINGLE_INDEX_OPTIONS = ("bool", "collapse_hosts", "hydrate")
# a request's own fault; anything else a handler raises is an internal error
_REQUEST_ERRORS = (ValueError, KeyError, TypeError, IndexError, OverflowError)


def _parse(text: str) -> tuple:
    """One non-empty request line -> (kind, request), with at most one JSON
    parse: ``:refresh`` is its own kind, a line starting with ``{`` or
    ``[`` must be a JSON object, and any other line is a "query" whose
    request is the text itself."""
    if text == ":refresh":
        return ":refresh", None
    if text[0] not in "{[":
        return "query", text
    try:
        req = json.loads(text)
    except (ValueError, RecursionError) as e:
        raise ValueError(f"bad request line: {e}") from None
    if not isinstance(req, dict):
        raise ValueError("bad request line: a request must be a JSON object")
    return next((k for k in _JSON_KINDS if k in req), "query"), req


def _single_index_only(kind: str, req):
    """The kind, or the query option, of a request that a multi-partition
    replica cannot answer; None if it can."""
    if kind not in _MULTI_KINDS:
        return kind
    if kind == "query" and isinstance(req, dict):
        return next((o for o in _SINGLE_INDEX_OPTIONS if req.get(o)), None)
    return None


def _dispatch(s, text: str) -> dict:
    """The reply to one request line. A request error (bad JSON, a missing
    or malformed field, a kind this replica cannot answer, a limit) is one
    ``{"error": message}`` reply; any other exception is one ``internal
    error`` reply and a traceback on stderr. Either way the loop goes on."""
    s.counters["requests"] += 1
    kind = "invalid"  # the count a line that does not parse goes to
    try:
        kind, req = _parse(text)
        ok, retry_after = (
            s.limiter.check() if s.limiter is not None and kind not in _UNLIMITED
            else (True, 0.0)
        )
        if not ok:
            out = {"error": "rate limited", "retry_after_s": round(retry_after, 3)}
        else:
            what = s.multi and _single_index_only(kind, req)
            if what:
                raise ValueError(f"{what} not supported on a multi-partition replica")
            out = _HANDLERS[kind](s, req)
    except _REQUEST_ERRORS as e:
        out = {"error": f"missing key {e.args[0]!r}" if type(e) is KeyError else str(e)}
    except Exception as e:  # noqa: BLE001 — a handler bug must not end the replica
        import traceback

        traceback.print_exc()
        out = {"error": f"internal error: {type(e).__name__}: {e}"}
    tally = s.kinds[kind]
    tally["count"] += 1
    tally["errors"] += "error" in out
    return out


def cmd_serve(args) -> int:
    """Serving loop: request lines on stdin -> one JSON reply line each.

    The reference's API tier (``api/main.py`` + ``api/search.py``) as a
    library process: no Spark session, no HTTP — an IndexReader over the
    parquet index plus the TTL+LRU cache (query/cache.py), or with
    ``--shards`` a MultiReader that scatter-gathers over partial indexes
    (query/serve_multi.py). ``_HANDLERS`` above is the protocol's single
    definition: every request kind in precedence order, with its handler.
    One process per serving replica; scale-out is N identical stateless
    processes behind any front end."""
    from collections import defaultdict
    from types import SimpleNamespace

    multi = bool(args.shards)
    cache = None
    if multi:
        from .query.serve_multi import MultiReader

        reader = MultiReader([args.index] + args.shards.split(","))
    else:
        from .query.cache import TtlLruCache
        from .query.serve import IndexReader

        if args.cache_entries > 0:
            cache = TtlLruCache(max_entries=args.cache_entries, ttl=args.cache_ttl)
        reader = IndexReader(args.index, cache=cache, corpus_path=args.corpus)
    limiter = None
    if args.rate_limit > 0:
        from .query.ratelimit import SlidingWindowLimiter

        limiter = SlidingWindowLimiter(args.rate_limit, args.rate_window)
    matcher = None
    if args.percolate_queries:
        from .query.percolate import PercolateMatcher

        matcher = PercolateMatcher.from_jsonl(args.percolate_queries)
    # the reference's metrics middleware (main.py:96-110) counts requests and
    # search latency per process; same counters here, plus per-kind counts
    s = SimpleNamespace(
        args=args, multi=multi, reader=reader, cache=cache, limiter=limiter,
        matcher=matcher, t_up=time.time(),
        kinds=defaultdict(lambda: {"count": 0, "errors": 0}),
        counters={"requests": 0, "searches": 0, "search_ms_total": 0.0},
    )
    # a line that is not UTF-8 is read with U+FFFD in place of its bad
    # bytes, not a decode error that ends the loop
    sys.stdin.reconfigure(errors="replace")
    for line in sys.stdin:
        text = line.strip()
        if text:
            print(json.dumps(_dispatch(s, text)), flush=True)
    return 0


def cmd_warmup(args) -> int:
    """Warm a serving replica: shard states, page cache, optional queries.

    The S8 analog (reference scripts/download_models.py pre-caches models so
    the first request is fast); here the artifact to pre-cache is the index."""
    from .query.cache import TtlLruCache
    from .query.serve import IndexReader

    reader = IndexReader(args.index, cache=TtlLruCache())
    queries = None
    if args.queries:
        with open(args.queries) as f:
            queries = [ln.strip() for ln in f if ln.strip()]
    print(json.dumps(reader.warm(queries, preload_postings=args.preload_postings)))
    return 0


def cmd_stream_ingest(args) -> int:
    from .streaming.ingest import stream_corpus, stream_index_corpus

    spark = _spark("nss-stream-ingest")
    q = stream_index_corpus(
        stream_corpus(spark, args.input, args.max_files),
        args.input,
        args.output,
        args.checkpoint,
        layout=_layout(args),
        n_buckets=args.buckets,
        available_now=not args.continuous,
    )
    q.awaitTermination()
    print(json.dumps({"status": "drained"}))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="neural-search-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    def common(sp):
        sp.add_argument("--docs-per-shard", type=int, default=None)
        sp.add_argument("--block-size", type=int, default=None)
        sp.add_argument("--buckets", type=int, default=64)

    b = sub.add_parser("build")
    b.add_argument("--input", required=True)
    b.add_argument("--output", required=True)
    b.add_argument("--waves", type=int, default=1)
    b.add_argument(
        "--analyzer", default="",
        help="index-time analysis fold bound to the index (e.g. 'stem'); "
        "query surfaces read it back automatically",
    )
    b.add_argument(
        "--positions", action="store_true",
        help="store per-posting position streams (phrase/proximity serving; "
        "postings grow by ~token count)",
    )
    common(b)
    b.set_defaults(fn=cmd_build)

    pk = sub.add_parser("pack")
    pk.add_argument("--input", required=True)
    pk.add_argument("--output", required=True)
    pk.add_argument("--budget", type=int, default=2048,
                    help="tokens per training chunk")
    pk.add_argument("--export", action="store_true",
                    help="write the materialized chunk text instead of the "
                    "per-doc span layout")
    pk.set_defaults(fn=cmd_pack)

    sk = sub.add_parser("sketch")
    sk.add_argument("kind", choices=["hll", "cms", "quantiles"])
    sk.add_argument("--input", default=None)
    sk.add_argument("--value-col", default=None)
    sk.add_argument("--merge-inputs", default=None,
                    help="comma-separated persisted-partial dirs: merge + "
                         "finish WITHOUT rescanning raw data")
    sk.add_argument("--output", default=None,
                    help="write the durable partial (registers/counters/bins)")
    sk.add_argument("--p", type=int, default=8)
    sk.add_argument("--depth", type=int, default=4)
    sk.add_argument("--width", type=int, default=2048)
    sk.add_argument("--top", type=int, default=10)
    sk.add_argument("--bins", type=int, default=None,
                    help="bin count when BUILDING quantile partials "
                         "(default 256); on --merge-inputs the nbins "
                         "RECORDED in the partials wins — --bins is only "
                         "the stated build-time bin count of legacy "
                         "(pre-nbins) partials: REQUIRED whenever any "
                         "merged partial is legacy (never defaulted — a "
                         "trusted default could mis-scale the estimates)")
    sk.add_argument("--quantiles", default="0.5,0.9,0.99")
    sk.add_argument("--bounds", default=None,
                    help="'lo,hi': pin the histogram frame so per-slice "
                         "partials merge (quantiles kind only; derived "
                         "frames differ across slices and refuse to merge)")
    sk.set_defaults(fn=cmd_sketch)

    a = sub.add_parser("add")
    a.add_argument("--input", required=True)
    a.add_argument("--new", required=True)
    a.add_argument("--output", required=True)
    common(a)
    a.set_defaults(fn=cmd_add)

    r = sub.add_parser("remove")
    r.add_argument("--input", required=True)
    r.add_argument("--output", required=True)
    r.add_argument("--urls", required=True)
    common(r)
    r.set_defaults(fn=cmd_remove)

    m = sub.add_parser("merge")
    m.add_argument("--a", required=True, help="first index dir (keeps its ids)")
    m.add_argument("--b", required=True, help="second index dir (ids shifted)")
    m.add_argument("--output", required=True)
    m.add_argument(
        "--no-disjoint-check",
        action="store_true",
        help="skip the url-overlap guard join (inputs known disjoint)",
    )
    m.set_defaults(fn=cmd_merge)

    q = sub.add_parser("query")
    q.add_argument("--index", required=True)
    q.add_argument("--query", required=True)
    q.add_argument("--top-k", type=int, default=10)
    q.add_argument("--match-all", action="store_true")
    q.set_defaults(fn=cmd_query)

    bq = sub.add_parser("batch-query")
    bq.add_argument("--index", required=True)
    bq.add_argument("--queries", required=True)
    bq.add_argument("--out", required=True)
    bq.add_argument("--match-all", action="store_true")
    bq.set_defaults(fn=cmd_batch_query)

    co = sub.add_parser("collections")
    co.add_argument("verb", choices=["list", "create", "exists", "stats", "delete"])
    co.add_argument("--base", required=True, help="directory holding named index roots")
    co.add_argument("--name", default=None)
    co.set_defaults(fn=cmd_collections)

    stt = sub.add_parser("stats")
    stt.add_argument("--index", required=True)
    stt.set_defaults(fn=cmd_stats)

    sv = sub.add_parser("serve")
    sv.add_argument("--index", required=True)
    sv.add_argument("--top-k", type=int, default=10)
    sv.add_argument("--match-all", action="store_true")
    sv.add_argument(
        "--cache-entries", type=int, default=4096,
        help="0 disables the result and per-term posting caches (not the "
        "bounded cache of decoded posting row groups)",
    )
    sv.add_argument("--cache-ttl", type=float, default=3600.0)
    # reference config declares 100 req / 60 s (config.py:51-52) but never
    # enforces it (no-op middleware); 0 keeps the reference's effective
    # behavior, a positive value turns enforcement on per replica
    sv.add_argument("--rate-limit", type=int, default=0, help="max requests per window; 0 = off")
    sv.add_argument("--rate-window", type=float, default=60.0, help="window seconds")
    sv.add_argument(
        "--percolate-queries", default=None,
        help="JSONL of saved searches ({\"query_id\", \"query\"}): enables "
        "the {\"percolate\": \"<doc text>\"} request form",
    )
    sv.add_argument(
        "--shards", default=None,
        help="comma-separated additional partial-index dirs: serve scatter-"
        "gather over --index + these with EXACT global-stats scoring "
        "(rank-identical to a physical merge; flat queries only)",
    )
    sv.add_argument(
        "--corpus", default=None,
        help="corpus parquet path (url, text); enables result hydration "
        "(url + content per hit, the reference's response shape), "
        "snippets via {\"hydrate\": true, \"snippet_window\": W}, and "
        "fetch-by-id via {\"mget\": [doc_id, ...]}",
    )
    sv.set_defaults(fn=cmd_serve)

    wu = sub.add_parser("warmup")
    wu.add_argument("--index", required=True)
    wu.add_argument("--queries", default=None, help="file of warm queries, one per line")
    wu.add_argument("--preload-postings", action="store_true")
    wu.set_defaults(fn=cmd_warmup)

    s = sub.add_parser("stream-ingest")
    s.add_argument("--input", required=True)
    s.add_argument("--output", required=True)
    s.add_argument("--checkpoint", required=True)
    s.add_argument("--max-files", type=int, default=4)
    s.add_argument("--continuous", action="store_true")
    common(s)
    s.set_defaults(fn=cmd_stream_ingest)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
