"""Physical index build: sharded, compressed, resumable (SURVEY.md §3.2, §4.2).

Layout written under ``out_dir`` (parquet stands in for Iceberg locally; the
table shapes are exactly the SURVEY.md §1.2 Iceberg schemas):

    docmap/        (shard, doc_id, url, doc_len)            phase 1
    term_stats/    (term, df, raw_idf, idf)                 phase 1
    corpus_stats/  (n_docs, avgdl, average_idf, k1, b, epsilon,
                    docs_per_shard, block_size)             phase 1
    postings/shard=K/  (term, bucket, block_id, first_doc_id, last_doc_id,
                        n_docs, max_tf, min_dl, deltas, tfs) phase 2, per wave
                       one zstd file per shard, rows sorted by (term,
                       block_id), row groups of <= POSTINGS_ROW_GROUP_ROWS
                       rows: each row group's term min/max is a directory
                       entry the replica prunes reads with (query/serve.py)
    _metrics/      (build_id, wave, shard, n_terms, n_postings, n_blocks,
                    deltas_bytes, tfs_bytes, elapsed_sec)   lineage per shard
    _checkpoint.json   {fingerprint, phase1_done, done_shards, build_id}

Scale design:
  * **shard = doc_id // docs_per_shard** — each shard holds all terms for a
    contiguous doc range, so query-time WAND runs shard-parallel and the
    merge is shards x k rows. The build's groupBy (shard, bucket) IS the
    salted repartition-by-term: a head term's postings split across every
    shard, so no task ever sees more than one shard's worth of any term.
  * **bucket = crc32(term) % n_buckets** — sub-shard grain so one applyInPandas
    group holds a bounded slice of a shard's vocabulary (memory-bounded,
    group-count-bounded); the kernel encodes the whole group in one
    vectorised ``codec.encode_postings`` pass, with no loop over its terms,
    blocks or streams.
  * **Resume** — phase 2 runs in waves of shards; the checkpoint manifest is
    atomically rewritten after each wave (the parquet-side stand-in for an
    Iceberg snapshot commit). A killed build redoes only missing shards via
    dynamic partition overwrite — idempotent, no double count. Phase 1
    (global stats) is all-or-nothing, exactly like a single Iceberg commit.

The reference rebuilds its whole in-memory index on any change
(``/root/reference/src/neural_search/core/hybrid.py:54-117``); here only
global stats are recomputed and postings are rebuilt per affected shard.
"""

from __future__ import annotations

import json
import os
import time
import uuid
import zlib
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_LAYOUT, DEFAULT_PARAMS, BM25Params, IndexLayout
from ..functions.tokenize import doc_terms
from .codec import encode_postings
from .docmap import assign_doc_ids, reject_doc_id_clash, release_doc_ids
from .stats import CorpusStats, floored_term_stats, mean_raw_idf, term_stats

POSTINGS_SCHEMA = (
    "shard int, bucket int, term string, block_id int, first_doc_id long, "
    "last_doc_id long, n_docs int, max_tf int, min_dl int, deltas binary, tfs binary"
)
POSTINGS_SCHEMA_POS = POSTINGS_SCHEMA + ", positions binary"
# Posting file shape (see _write_postings). 2048-row groups keep a tail
# term's read small; zstd because with snappy, groups this small made the
# posting files ~9% larger than the earlier unsorted snappy files.
POSTINGS_ROW_GROUP_ROWS = 2048
POSTINGS_COMPRESSION = "zstd"


@dataclass
class IndexPaths:
    root: str

    @property
    def docmap(self) -> str:
        return os.path.join(self.root, "docmap")

    @property
    def term_stats(self) -> str:
        return os.path.join(self.root, "term_stats")

    @property
    def corpus_stats(self) -> str:
        return os.path.join(self.root, "corpus_stats")

    @property
    def postings(self) -> str:
        return os.path.join(self.root, "postings")

    @property
    def metrics(self) -> str:
        return os.path.join(self.root, "_metrics")

    @property
    def checkpoint(self) -> str:
        return os.path.join(self.root, "_checkpoint.json")


def _read_checkpoint(paths: IndexPaths) -> dict | None:
    if os.path.exists(paths.checkpoint):
        with open(paths.checkpoint) as f:
            return json.load(f)
    return None


def _write_checkpoint(paths: IndexPaths, state: dict) -> None:
    tmp = paths.checkpoint + ".tmp"
    with open(tmp, "w") as f:
        json.dump(state, f, indent=1, sort_keys=True)
    os.replace(tmp, paths.checkpoint)  # atomic rename = the snapshot commit


def _write_postings(df: DataFrame, path: str) -> None:
    """Write posting blocks as one file per ``shard=K`` directory, rows
    sorted by (term, block_id) in row groups of at most
    ``POSTINGS_ROW_GROUP_ROWS`` rows: the row groups' term ranges then do
    not overlap, and a reader that selects row groups by their term
    min/max reads about one per query term per shard."""
    (
        df.repartition(F.col("shard"))
        .sortWithinPartitions("shard", "term", "block_id")
        .write.mode("overwrite")
        .option("parquet.block.row.count.limit", POSTINGS_ROW_GROUP_ROWS)
        .option("compression", POSTINGS_COMPRESSION)
        .partitionBy("shard")
        .parquet(path)
    )


def term_bucket(term: str, n_buckets: int) -> int:
    return zlib.crc32(term.encode("utf-8")) % n_buckets


def _encode_kernel(docs_per_shard: int, block_size: int):
    """The (shard, bucket) group's posting blocks, all encoded in one
    ``codec.encode_postings`` pass. Stats-independent: blocks carry
    (max_tf, min_dl) and the WAND bound is computed at query time from
    CURRENT idf/avgdl (see the codec docstring), so the kernel needs no
    term_stats join and no global stats."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        out = encode_postings(pdf, docs_per_shard, block_size)
        out.insert(1, "bucket", int(pdf["bucket"].iloc[0]))
        return out

    return fn


def build_index(
    corpus: DataFrame,
    out_dir: str,
    id_col: str | None = None,
    text_col: str = "text",
    url_col: str = "url",
    params: BM25Params = DEFAULT_PARAMS,
    layout: IndexLayout = DEFAULT_LAYOUT,
    n_buckets: int = 64,
    waves: int = 1,
    fail_after_wave: int | None = None,
    analyzer: str | None = None,
    store_positions: bool = False,
) -> "PhysicalIndex":
    """Build (or resume) the sharded compressed index under ``out_dir``.

    ``waves`` splits phase 2 into that many shard groups with a checkpoint
    commit after each — the resumability granularity. ``fail_after_wave``
    injects a crash after N waves (test hook for kill-and-resume). A call on
    a directory that holds a checkpoint resumes it only if the call matches
    the checkpoint's fingerprint: the corpus's source files
    (``corpus.inputFiles()``), the BM25 params, the layout, the analyzer and
    ``store_positions``. Any other call raises a ValueError that names the
    first field that differs, instead of returning the old index.

    ``analyzer`` binds an index-time analysis fold (e.g. ``"stem"``) to the
    index: the token stream is folded before encoding, the name is recorded
    in ``corpus_stats``, and WAND / the serving replica / maintenance read
    it back and fold query tokens identically (``functions/analyzers.py``).
    A resume call must pass the same analyzer as the original build (the
    checkpoint fingerprint records it; maintenance passes it automatically).

    ``store_positions`` adds a per-block positions stream (Lucene .prx
    analog; gap-coded by ``codec.encode_postings``) so phrase/proximity queries can
    run from the index alone — postings grow by roughly the token count,
    the price every positional index pays. Recorded in ``corpus_stats`` and
    the fingerprint like the analyzer.
    """
    from ..functions.analyzers import fold_doc_terms, resolve_analyzer

    analyzer = resolve_analyzer(analyzer)

    def _tokenized(src: DataFrame) -> DataFrame:
        """(doc_id, term, tf, doc_len [, positions]) — the analysis fold
        applied, positional when the index stores positions."""
        if not store_positions:
            return fold_doc_terms(
                doc_terms(src, id_col="doc_id", text_col=text_col), analyzer
            )
        from ..functions.analyzers import fold_doc_term_positions
        from ..query.phrase import doc_term_positions

        dtp = fold_doc_term_positions(
            doc_term_positions(src, id_col="doc_id", text_col=text_col), analyzer
        )
        return dtp.withColumn("tf", F.size("positions"))

    spark = corpus.sparkSession
    paths = IndexPaths(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    # what the index is a function of; a resume must match it. The source
    # files come from the plan, without a Spark job
    fingerprint = {
        "input_files": sorted(corpus.inputFiles()),
        "k1": params.k1,
        "b": params.b,
        "epsilon": params.epsilon,
        "docs_per_shard": layout.docs_per_shard,
        "block_size": layout.block_size,
        "analyzer": analyzer,
        "positional": bool(store_positions),
    }
    ckpt = _read_checkpoint(paths)
    if ckpt:
        # a key the checkpoint lacks was not recorded, and is skipped; one
        # written before analyzers and positions had neither
        built = {"analyzer": "", "positional": False, **ckpt.get("fingerprint", {})}
        for key, want in fingerprint.items():
            if key in built and built[key] != want:
                raise ValueError(
                    f"resume {key} mismatch: index was built with {built[key]!r}, "
                    f"call passed {want!r}"
                )
    dt_cached = None  # set when phase 1 runs in THIS call (reused by phase 2)
    with_ids = None
    try:
        # empty corpus -> no index, explicitly (the reference drops the index on
        # an empty corpus, hybrid.py:114-117; without this guard the failure is a
        # cryptic schema-inference error on the empty docmap)
        if not (ckpt and ckpt.get("phase1_done")) and corpus.isEmpty():
            raise ValueError("cannot build an index over an empty corpus")

        span = layout.docs_per_shard

        # ---- Phase 1: doc ids, docmap, global stats (single snapshot) ----
        if not (ckpt and ckpt.get("phase1_done")):
            t0 = time.time()
            if id_col is None:
                # the clash check sees every column; the id assignment then
                # persists only the two columns the build reads
                reject_doc_id_clash(corpus)
                with_ids = assign_doc_ids(
                    corpus.select(*dict.fromkeys((url_col, text_col))), order_col=url_col
                )
            else:
                with_ids = corpus.withColumn("doc_id", F.col(id_col).cast("long"))

            dt = _tokenized(with_ids)
            # persist the tokenized rows across phases: phase 2 (posting encode)
            # consumes the same (doc_id, term, tf) rows, and re-tokenizing is the
            # single priciest stage of the build (Python-re pandas UDF over the
            # full corpus). MEMORY_AND_DISK is no worse than the phase-2 shuffle
            # that materializes these rows anyway; the resume path (fresh call
            # after a crash) still re-tokenizes only the missing shards.
            from pyspark import StorageLevel

            dt = dt.persist(StorageLevel.MEMORY_AND_DISK)
            dt_cached = dt

            # docmap doc_len comes FROM the tokenize pass (dt rows carry it),
            # not from a second token_count_udf scan: the count UDF runs the
            # same findall regex as full tokenization, so deriving the length
            # here removes an entire text read + Arrow pipe + regex pass from
            # phase 1. The price is n_docs-row exchanges (max-combine collapses
            # each doc's term rows map-side; the url side is a JVM projection
            # of the persisted (url, text) partitions) — at web scale a slim
            # doc_id shuffle beats re-tokenizing the text column. The left
            # join keeps zero-token docs (no dt rows) in the docmap with
            # doc_len = 0, and the shard repartition gives one output file per
            # shard partition instead of tasks-times-shards fragments from the
            # join layout.
            lens = dt.groupBy("doc_id").agg(F.max("doc_len").alias("doc_len"))
            docmap_df = (
                with_ids.select("doc_id", F.col(url_col).alias("url"))
                .join(lens, "doc_id", "left")
                .select(
                    (F.col("doc_id") / span).cast("int").alias("shard"),
                    "doc_id",
                    "url",
                    F.coalesce(F.col("doc_len"), F.lit(0)).cast("int").alias("doc_len"),
                )
                .repartition(F.col("shard"))
            )
            docmap_df.write.mode("overwrite").partitionBy("shard").parquet(paths.docmap)

            dm = spark.read.parquet(paths.docmap)
            row = dm.agg(
                F.count(F.lit(1)).alias("n"),
                F.avg("doc_len").alias("avgdl"),
                F.max("shard").alias("max_shard"),
            ).collect()[0]
            n_docs, avgdl, max_shard = int(row["n"]), float(row["avgdl"] or 0.0), int(row["max_shard"])
            # the vocabulary-sized term stats feed two consumers (average_idf agg
            # + floored write); persisting avoids recomputing the term groupBy
            ts = term_stats(dt, n_docs).persist()
            average_idf = mean_raw_idf(ts)
            floored_term_stats(ts, average_idf, params).write.mode("overwrite").parquet(
                paths.term_stats
            )
            ts.unpersist()
            spark.createDataFrame(
                [
                    (
                        n_docs,
                        avgdl,
                        average_idf,
                        params.k1,
                        params.b,
                        params.epsilon,
                        span,
                        layout.block_size,
                        analyzer,
                        bool(store_positions),
                    )
                ],
                "n_docs long, avgdl double, average_idf double, k1 double, b double, "
                "epsilon double, docs_per_shard long, block_size int, analyzer string, "
                "positional boolean",
            ).write.mode("overwrite").parquet(paths.corpus_stats)

            ckpt = {
                "build_id": str(uuid.uuid4()),
                "phase1_done": True,
                "phase1_elapsed_sec": time.time() - t0,
                "fingerprint": {"n_docs": n_docs, "avgdl": avgdl, **fingerprint},
                "n_shards": max_shard + 1,
                "done_shards": [],
            }
            _write_checkpoint(paths, ckpt)

        # ---- Phase 2: postings per shard, in resumable waves ----
        n_shards = int(ckpt["n_shards"])
        done = set(ckpt["done_shards"])
        todo = [s for s in range(n_shards) if s not in done]
        if todo:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            # only a resumed build without id_col maps urls back to ids
            if dt_cached is None and id_col is None:
                docmap_df = spark.read.parquet(paths.docmap)

            wave_size = max(1, -(-len(todo) // max(1, waves)))
            for wi in range(0, len(todo), wave_size):
                wave_shards = todo[wi : wi + wave_size]
                t0 = time.time()
                if dt_cached is not None:
                    # phase 1 ran in this call: reuse its persisted tokenization
                    dt = dt_cached.withColumn(
                        "shard", (F.col("doc_id") / span).cast("int")
                    ).where(F.col("shard").isin(wave_shards))
                else:
                    if id_col is not None:
                        wave_docs = corpus.withColumn(
                            "doc_id", F.col(id_col).cast("long")
                        ).where((F.col("doc_id") / span).cast("int").isin(wave_shards))
                    else:
                        # shard filter pushes into the docmap scan (partition
                        # pruning); only the wave's docs get re-tokenized on resume.
                        wave_docs = corpus.join(
                            docmap_df.where(F.col("shard").isin(wave_shards)).select(
                                "doc_id", "url"
                            ),
                            url_col,
                        )
                    dt = _tokenized(wave_docs)
                    dt = dt.withColumn("shard", (F.col("doc_id") / span).cast("int"))
                # native crc32 (JVM-side) — bucket is internal layout only
                dt = dt.withColumn(
                    "bucket", (F.crc32(F.encode(F.col("term"), "utf-8")) % n_buckets).cast("int")
                )
                encoded = dt.groupBy("shard", "bucket").applyInPandas(
                    _encode_kernel(span, layout.block_size),
                    schema=POSTINGS_SCHEMA_POS if store_positions else POSTINGS_SCHEMA,
                )
                _write_postings(encoded, paths.postings)
                elapsed = time.time() - t0

                # per-shard lineage metrics (docs, postings, blocks, bytes, elapsed)
                written = spark.read.parquet(paths.postings).where(
                    F.col("shard").isin(wave_shards)
                )
                metrics = written.groupBy("shard").agg(
                    F.countDistinct("term").alias("n_terms"),
                    F.sum("n_docs").alias("n_postings"),
                    F.count(F.lit(1)).alias("n_blocks"),
                    F.sum(F.octet_length("deltas")).alias("deltas_bytes"),
                    F.sum(F.octet_length("tfs")).alias("tfs_bytes"),
                    (
                        F.sum(F.octet_length("positions"))
                        if store_positions
                        else F.sum(F.lit(0)).cast("long")
                    ).alias("positions_bytes"),
                ).select(
                    F.lit(ckpt["build_id"]).alias("build_id"),
                    F.lit(wi // wave_size).alias("wave"),
                    "shard",
                    "n_terms",
                    "n_postings",
                    "n_blocks",
                    "deltas_bytes",
                    "tfs_bytes",
                    "positions_bytes",
                    F.lit(elapsed).alias("elapsed_sec"),
                )
                metrics.write.mode("append").parquet(paths.metrics)

                done.update(wave_shards)
                ckpt["done_shards"] = sorted(done)
                _write_checkpoint(paths, ckpt)
                if fail_after_wave is not None and (wi // wave_size) + 1 >= fail_after_wave:
                    raise RuntimeError(f"injected failure after wave {wi // wave_size}")

        return load_index(spark, out_dir)
    finally:
        # release the cross-phase tokenization cache even when a wave fails
        # (kill-and-resume test path) -- a long-lived session that catches the
        # error must not keep the full corpus tokenization pinned
        if dt_cached is not None:
            dt_cached.unpersist()
        if with_ids is not None:
            release_doc_ids(with_ids)


@dataclass
class PhysicalIndex:
    paths: IndexPaths
    postings: DataFrame
    docmap: DataFrame
    terms: DataFrame
    stats: CorpusStats
    docs_per_shard: int
    block_size: int
    analyzer: str = ""
    positional: bool = False


def load_index(spark: SparkSession, out_dir: str) -> PhysicalIndex:
    paths = IndexPaths(out_dir)
    stats_df = spark.read.parquet(paths.corpus_stats)
    row = stats_df.collect()[0]
    # pre-analyzer/pre-positional indexes have no column: identity / False
    analyzer = row["analyzer"] if "analyzer" in stats_df.columns else ""
    positional = bool(row["positional"]) if "positional" in stats_df.columns else False
    stats = CorpusStats(
        n_docs=int(row["n_docs"]),
        avgdl=float(row["avgdl"]),
        average_idf=float(row["average_idf"]),
        k1=float(row["k1"]),
        b=float(row["b"]),
        epsilon=float(row["epsilon"]),
    )
    return PhysicalIndex(
        paths=paths,
        postings=spark.read.parquet(paths.postings),
        docmap=spark.read.parquet(paths.docmap),
        terms=spark.read.parquet(paths.term_stats),
        stats=stats,
        docs_per_shard=int(row["docs_per_shard"]),
        block_size=int(row["block_size"]),
        analyzer=analyzer or "",
        positional=positional,
    )
