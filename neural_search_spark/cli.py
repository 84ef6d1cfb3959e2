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


def _spark(app: str):
    from pyspark.sql import SparkSession

    return SparkSession.builder.appName(app).getOrCreate()


# Serving-boundary request bounds, mirroring the reference's API schemas:
# top_k ∈ [1, MAX_TOP_K] (api/schemas.py:58-73), ≤100 queries per batch
# request (api/search.py:89-98). Out-of-range is a request ERROR line (the
# analog of the reference's 422), never a silent clamp — callers must see
# their bound.
from .config import MAX_TOP_K

BATCH_MAX = 100


def _req_top_k(req: dict, default: int) -> int:
    k = int(req.get("top_k", default))
    if not 1 <= k <= MAX_TOP_K:
        raise ValueError(f"top_k must be in [1, {MAX_TOP_K}], got {k}")
    return k


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


def cmd_serve(args) -> int:
    """Serving loop: query lines on stdin -> one JSON result line each.

    The reference's API tier (``api/main.py`` + ``api/search.py``) as a
    library process: no Spark session, no HTTP — an IndexReader over the
    parquet index plus the TTL+LRU cache (query/cache.py). ``:refresh`` on
    stdin picks up a maintenance commit (the API analog of the reference
    re-opening its store). One process per serving replica; scale-out is
    N identical stateless processes behind any front end."""
    import time

    from .query.cache import TtlLruCache
    from .query.serve import IndexReader

    cache = (
        TtlLruCache(max_entries=args.cache_entries, ttl=args.cache_ttl)
        if args.cache_entries > 0
        else None
    )
    limiter = None
    if args.rate_limit > 0:
        from .query.ratelimit import SlidingWindowLimiter

        limiter = SlidingWindowLimiter(args.rate_limit, args.rate_window)
    if getattr(args, "shards", None):
        # scatter-gather replica over partial indexes (exact global scoring,
        # query/serve_multi.py); flat queries only — clause/phrase/suggest
        # surfaces answer with an explicit error
        from .query.serve_multi import MultiReader

        reader = MultiReader([args.index] + args.shards.split(","))
    else:
        reader = IndexReader(args.index, cache=cache, corpus_path=args.corpus)
    matcher = None
    if getattr(args, "percolate_queries", None):
        from .query.percolate import PercolateMatcher

        matcher = PercolateMatcher.from_jsonl(args.percolate_queries)
    # the reference's metrics middleware (main.py:96-110) counts requests and
    # search latency per process; same counters here, reported by {"stats"}
    t_up = time.time()
    counters = {"requests": 0, "searches": 0, "search_ms_total": 0.0}
    for line in sys.stdin:
        text = line.strip()
        if not text:
            continue
        counters["requests"] += 1
        if text == ":refresh":
            reader.refresh()
            print(
                json.dumps(
                    {"refreshed": True, "snapshot": getattr(reader, "snapshot", "")}
                ),
                flush=True,
            )
            continue
        # a JSON object line is the structured request form (the api/search.py
        # request-body analog): {"query": str, "top_k"?: int, "offset"?: int,
        # "search_after"?: [score, doc_id], "filter_ids"?: [doc_id, ...]} —
        # filter_ids is the resolved metadata-filter id set, applied pre-rank
        # (IndexReader.allowed_docs); offset paginates (ranks offset+1 ..
        # offset+top_k); search_after is the cursor form of deep pagination
        # (the [score, doc_id] of the last hit received; pages tile with
        # offset paging on a fixed snapshot)
        # liveness/metrics probes answer BEFORE the rate limiter (and are
        # exempt from it): the reference's GET /health stays answerable under
        # load — a probe that returns "rate limited" mid-burst would get the
        # replica drained exactly when it is healthy-but-busy — and probes
        # must not consume query slots
        probe = None
        if text.startswith("{"):
            try:
                probe = json.loads(text)
            except json.JSONDecodeError:
                probe = None  # fall through; the request path reports it
        if isinstance(probe, dict) and ("health" in probe or "stats" in probe):
            if "health" in probe:
                # the reference's GET /health (main.py:129-151): liveness
                # plus what this replica has loaded; answers even when
                # stats extras are missing (MultiReader), never an error
                from . import __version__

                srow = getattr(reader, "stats", None) or {}
                out = {
                    "status": "healthy",
                    "version": __version__,
                    "snapshot": getattr(reader, "snapshot", ""),
                    "mode": "multi" if getattr(args, "shards", None) else "single",
                    "n_terms": len(getattr(reader, "idf", None) or {}),
                }
                if "n_docs" in srow:
                    out["n_docs"] = int(srow["n_docs"])
                print(json.dumps(out), flush=True)
                continue
            # the reference's GET /metrics (main.py:156-163) as one
            # JSON line: request counters, cache hit rates, posting row
            # groups read vs in the directory, and the loaded index's
            # corpus stats
            cs = None
            if cache is not None:
                tot = cache.stats.hits + cache.stats.misses
                cs = {
                    "hits": cache.stats.hits,
                    "misses": cache.stats.misses,
                    "hit_rate": round(cache.stats.hits / tot, 4) if tot else 0.0,
                    "evictions": cache.stats.evictions,
                    "expirations": cache.stats.expirations,
                    "entries": cache.live_entries(),
                }
            srow = getattr(reader, "stats", None) or {}
            readers = getattr(reader, "readers", [reader])  # MultiReader parts
            out = {
                "snapshot": getattr(reader, "snapshot", ""),
                "uptime_s": round(time.time() - t_up, 3),
                "requests": {
                    **counters,
                    "search_ms_total": round(counters["search_ms_total"], 3),
                },
                "cache": cs,
                "postings": {
                    k: sum(r.postings_read[k] for r in readers)
                    for k in ("row_groups_read", "row_group_hits", "row_groups_total",
                              "files", "row_group_cache_bytes")
                },
                "index": {
                    k: srow[k] for k in ("n_docs", "avgdl", "k1", "b") if k in srow
                },
                "n_terms": len(getattr(reader, "idf", None) or {}),
            }
            print(json.dumps(out), flush=True)
            continue
        if limiter is not None:
            ok, retry_after = limiter.check()
            if not ok:
                print(
                    json.dumps(
                        {"error": "rate limited", "retry_after_s": round(retry_after, 3)}
                    ),
                    flush=True,
                )
                continue
        top_k, allowed = args.top_k, None
        if text.startswith("{"):
            try:
                req = json.loads(text)
                if "phrase" in req:
                    # exact-phrase retrieval from a positional index:
                    # {"phrase": str, "top_k"?: int} -> [(doc_id, phrase_tf)]
                    if not hasattr(reader, "query_phrase"):
                        print(json.dumps({"error": "phrase not supported on a multi-partition replica"}), flush=True)
                        continue
                    try:
                        ph = reader.query_phrase(
                            req["phrase"], top_k=_req_top_k(req, args.top_k)
                        )
                    except ValueError as e:
                        print(json.dumps({"error": str(e)}), flush=True)
                        continue
                    print(
                        json.dumps(
                            {
                                "phrase": req["phrase"],
                                "hits": [
                                    {"doc_id": d, "phrase_tf": tf} for d, tf in ph
                                ],
                            }
                        ),
                        flush=True,
                    )
                    continue
                if "near" in req:
                    # proximity from a positional index:
                    # {"near": str, "span": int, "top_k"?: int,
                    #  "ordered"?: bool} — ordered=true requires the terms
                    # in query order (SpanNear inOrder)
                    if not hasattr(reader, "query_near"):
                        print(json.dumps({"error": "near not supported on a multi-partition replica"}), flush=True)
                        continue
                    try:
                        nh = reader.query_near(
                            req["near"], max_span=int(req["span"]),
                            top_k=_req_top_k(req, args.top_k),
                            ordered=bool(req.get("ordered")),
                        )
                    except ValueError as e:
                        print(json.dumps({"error": str(e)}), flush=True)
                        continue
                    print(
                        json.dumps(
                            {
                                "near": req["near"],
                                "hits": [
                                    {"doc_id": d, "min_window": w} for d, w in nh
                                ],
                            }
                        ),
                        flush=True,
                    )
                    continue
                if "mget" in req:
                    # {"mget": [doc_id, ...]} — ES _mget analog: fetch docs
                    # by id through the hydration path (needs --corpus)
                    if not hasattr(reader, "hydrate"):
                        print(json.dumps({"error": "mget not supported on a multi-partition replica"}), flush=True)
                        continue
                    try:
                        docs = reader.hydrate([int(d) for d in req["mget"]])
                    except ValueError as e:
                        print(json.dumps({"error": str(e)}), flush=True)
                        continue
                    print(
                        json.dumps(
                            {
                                "docs": [
                                    {"doc_id": d, **rec}
                                    for d, rec in sorted(docs.items())
                                ]
                            }
                        ),
                        flush=True,
                    )
                    continue
                if "termvectors" in req:
                    # {"termvectors": doc_id, "positions"?: bool} — the ES
                    # _termvectors analog, recovered from the lossless index
                    if not hasattr(reader, "term_vector"):
                        print(json.dumps({"error": "termvectors not supported on a multi-partition replica"}), flush=True)
                        continue
                    try:
                        tv = reader.term_vector(
                            int(req["termvectors"]),
                            positions=bool(req.get("positions")),
                        )
                    except ValueError as e:
                        print(json.dumps({"error": str(e)}), flush=True)
                        continue
                    print(json.dumps(tv), flush=True)
                    continue
                if "dsl" in req:
                    # {"dsl": {<search_dsl request>}} — the cluster DSL's
                    # replica-servable subset (match/bool/match_phrase/
                    # prefix/wildcard/more_like_this); cluster-only forms
                    # return a routing error
                    if not hasattr(reader, "query_dsl"):
                        print(json.dumps({"error": "dsl not supported on a multi-partition replica"}), flush=True)
                        continue
                    try:
                        hits = reader.query_dsl(
                            dict(req["dsl"]), positive_only=not args.match_all
                        )
                    # AttributeError deliberately NOT caught: capability
                    # probing is done via hasattr above, so one here is an
                    # internal bug that must surface, not a request error.
                    except (KeyError, ValueError, TypeError) as e:
                        print(json.dumps({"error": str(e)}), flush=True)
                        continue
                    print(
                        json.dumps(
                            {"hits": [{"doc_id": d, "score": s} for d, s in hits]}
                        ),
                        flush=True,
                    )
                    continue
                if "explain" in req:
                    # {"explain": "<query text>", "doc_id": id} — the ES
                    # _explain analog: per-term score breakdown for one
                    # (query, doc) pair, from the index alone
                    if not hasattr(reader, "explain"):
                        print(json.dumps({"error": "explain not supported on a multi-partition replica"}), flush=True)
                        continue
                    if "doc_id" not in req:
                        print(json.dumps({"error": "explain needs a 'doc_id' key"}), flush=True)
                        continue
                    try:
                        print(
                            json.dumps(
                                reader.explain(
                                    str(req["explain"]), int(req["doc_id"])
                                )
                            ),
                            flush=True,
                        )
                    except (KeyError, ValueError, TypeError) as e:
                        print(json.dumps({"error": str(e)}), flush=True)
                    continue
                if "percolate" in req:
                    # {"percolate": "<doc text>"} — the ES single-doc
                    # percolate API: which saved searches match this doc
                    # (requires serve --percolate-queries FILE.jsonl)
                    if matcher is None:
                        print(json.dumps({"error": "no --percolate-queries configured"}), flush=True)
                        continue
                    print(
                        json.dumps(
                            {"matches": matcher.match(str(req["percolate"]))}
                        ),
                        flush=True,
                    )
                    continue
                if "more_like_this" in req:
                    # {"more_like_this": doc_id, "m"?: int, "top_k"?: int} —
                    # find docs similar to an indexed doc (Lucene MLT);
                    # term vector comes from the index itself
                    if not hasattr(reader, "more_like_this"):
                        print(json.dumps({"error": "more_like_this not supported on a multi-partition replica"}), flush=True)
                        continue
                    try:
                        hits = reader.more_like_this(
                            int(req["more_like_this"]),
                            m=int(req.get("m", 10)),
                            top_k=_req_top_k(req, args.top_k),
                            positive_only=not args.match_all,
                        )
                    except ValueError as e:
                        print(json.dumps({"error": str(e)}), flush=True)
                        continue
                    print(
                        json.dumps(
                            {
                                "more_like_this": int(req["more_like_this"]),
                                "hits": [
                                    {"doc_id": d, "score": s} for d, s in hits
                                ],
                            }
                        ),
                        flush=True,
                    )
                    continue
                if "suggest" in req and not hasattr(reader, "suggest"):
                    print(json.dumps({"error": "suggest not supported on a multi-partition replica"}), flush=True)
                    continue
                if "suggest" in req:
                    # fuzzy vocabulary suggestion ("did you mean"):
                    # {"suggest": str, "n"?: int} -> [(term, distance, df)]
                    sug = reader.suggest(req["suggest"], n=int(req.get("n", 3)))
                    print(
                        json.dumps(
                            {
                                "suggest": req["suggest"],
                                "suggestions": [
                                    {"term": t, "distance": d, "df": df}
                                    for t, d, df in sug
                                ],
                            }
                        ),
                        flush=True,
                    )
                    continue
                if "queries" in req:
                    # batch search — the reference's POST /search/batch
                    # (api/search.py:89-98): up to BATCH_MAX queries per
                    # request, one hits array per query, same snapshot
                    qs = req["queries"]
                    if not isinstance(qs, list) or not qs:
                        raise ValueError("queries must be a non-empty list")
                    if len(qs) > BATCH_MAX:
                        raise ValueError(
                            f"batch is limited to {BATCH_MAX} queries, got {len(qs)}"
                        )
                    bk = _req_top_k(req, args.top_k)
                    results = []
                    for q in qs:
                        if not isinstance(q, str) or not q.strip():
                            raise ValueError("every batch query must be a non-empty string")
                        bh = reader.query(
                            q, top_k=bk, positive_only=not args.match_all
                        )
                        results.append(
                            {
                                "query": q,
                                "hits": [
                                    {"doc_id": d, "score": s} for d, s in bh
                                ],
                            }
                        )
                    print(json.dumps({"results": results}), flush=True)
                    continue
                text = _req_query_text(req)
                top_k = _req_top_k(req, args.top_k)
                allowed = req.get("filter_ids")
                if allowed is not None and not (
                    isinstance(allowed, list) and all(type(d) is int for d in allowed)
                ):
                    raise ValueError("filter_ids must be a list of integer doc ids")
                use_bool = bool(req.get("bool"))
                msm = int(req.get("minimum_should_match", 0))
                collapse = int(req.get("collapse_hosts", 0))
                offset = int(req.get("offset", 0))
                sa = req.get("search_after")
                search_after = (
                    (float(sa[0]), int(sa[1])) if sa is not None else None
                )
                hydrate = bool(req.get("hydrate"))
                snippet_window = (
                    int(req["snippet_window"]) if "snippet_window" in req else None
                )
            except (ValueError, KeyError, IndexError, TypeError) as e:
                print(json.dumps({"error": f"bad request line: {e}"}), flush=True)
                continue
        else:
            use_bool = False
            msm = 0
            collapse = 0
            offset = 0
            search_after = None
            hydrate = False
            snippet_window = None
        t0 = time.perf_counter()
        if use_bool and not hasattr(reader, "query_bool"):
            print(json.dumps({"error": "bool not supported on a multi-partition replica"}), flush=True)
            continue
        if collapse and not hasattr(reader, "_hosts_for"):
            print(json.dumps({"error": "collapse_hosts not supported on a multi-partition replica"}), flush=True)
            continue
        if hydrate and not hasattr(reader, "hydrate"):
            print(json.dumps({"error": "hydrate not supported on a multi-partition replica"}), flush=True)
            continue
        try:
            if use_bool:
                # {"query": "+must -not should", "bool": true,
                #  "minimum_should_match"?: n}: Lucene-style clause syntax via
                # IndexReader.query_bool
                hits = reader.query_bool(
                    text, top_k=top_k, positive_only=not args.match_all,
                    allowed_docs=allowed, offset=offset, search_after=search_after,
                    min_should_match=msm,
                )
            else:
                extra = {"collapse_hosts": collapse} if collapse else {}
                hits = reader.query(
                    text, top_k=top_k, positive_only=not args.match_all,
                    allowed_docs=allowed, offset=offset, search_after=search_after,
                    **extra,
                )
        except ValueError as e:
            # e.g. a negative offset: an error line, the loop keeps serving
            print(json.dumps({"error": str(e)}), flush=True)
            continue
        ms = (time.perf_counter() - t0) * 1000
        counters["searches"] += 1
        counters["search_ms_total"] += ms
        hit_rows = [{"doc_id": d, "score": s} for d, s in hits]
        if hydrate:
            try:
                hd = reader.hydrate(
                    [d for d, _ in hits], query=text, snippet_window=snippet_window
                )
            except ValueError as e:
                print(json.dumps({"error": str(e)}), flush=True)
                continue
            for row in hit_rows:
                row.update(hd.get(row["doc_id"], {}))
        print(
            json.dumps(
                {
                    "query": text,
                    "latency_ms": round(ms, 3),
                    "hits": hit_rows,
                }
            ),
            flush=True,
        )
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
        "bounded cache of decompressed posting row groups)",
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
