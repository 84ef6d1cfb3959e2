"""Incremental index maintenance: add / remove documents without a full rebuild.

The reference rebuilds its entire in-memory BM25 index on ANY mutation
("BM25 doesn't support incremental updates",
/root/reference/src/neural_search/core/hybrid.py:93; remove at :96-117) —
O(corpus) per change. Here a mutation costs:

  O(changed docs)                  tokenize + posting rebuild (affected shards
                                   only — blocks are stats-independent, see
                                   codec.py, so untouched shards stay valid)
  O(vocabulary)                    term_stats rewrite (df deltas + re-floor;
                                   mandatory: one new doc shifts N and
                                   average_idf and therefore EVERY idf)
  O(1)                             corpus_stats rewrite

and produces an index whose query results are IDENTICAL (per url, score) to
a from-scratch build of the updated corpus — verified in
tests/test_maintenance.py.

Mechanics reuse the build's own resume machinery: maintenance updates
docmap/stats, marks the affected shards as not-done in the checkpoint
manifest, and lets ``build_index`` re-encode exactly those shards. Removal
recovers the removed docs' term counts by DECODING their shards' posting
blocks (the index is lossless), so no access to deleted text is needed —
matching real pipelines where deleted rows are already gone from the table.
"""

from __future__ import annotations

import os
import shutil

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import BM25Params, IndexLayout
from ..functions.tokenize import doc_lengths, doc_terms
from .build import (
    IndexPaths,
    PhysicalIndex,
    _read_checkpoint,
    _write_checkpoint,
    build_index,
    load_index,
)
from .codec import decode_postings
from .stats import floored_term_stats


def _params_from_index(idx: PhysicalIndex) -> tuple[BM25Params, IndexLayout]:
    s = idx.stats
    return (
        BM25Params(k1=s.k1, b=s.b, epsilon=s.epsilon),
        IndexLayout(docs_per_shard=idx.docs_per_shard, block_size=idx.block_size),
    )


def _rewrite_stats(
    spark: SparkSession,
    paths: IndexPaths,
    term_stats_new: DataFrame,
    n_docs: int,
    avgdl: float,
    params: BM25Params,
    layout: IndexLayout,
    analyzer: str = "",
    positional: bool = False,
) -> None:
    """Recompute average_idf + idf floors over the updated vocabulary and
    atomically replace term_stats/corpus_stats (write-new + rename)."""
    ts = term_stats_new.select(
        "term",
        "df",
        (
            F.log(F.lit(float(n_docs)) - F.col("df") + 0.5)
            - F.log(F.col("df") + 0.5)
        ).alias("raw_idf"),
    )
    average_idf = float(ts.agg(F.avg("raw_idf")).collect()[0][0] or 0.0)
    out = floored_term_stats(ts, average_idf, params)

    tmp_ts = paths.term_stats + "__new"
    out.write.mode("overwrite").parquet(tmp_ts)
    spark.createDataFrame(
        [
            (
                n_docs,
                avgdl,
                average_idf,
                params.k1,
                params.b,
                params.epsilon,
                layout.docs_per_shard,
                layout.block_size,
                analyzer,
                bool(positional),
            )
        ],
        "n_docs long, avgdl double, average_idf double, k1 double, b double, "
        "epsilon double, docs_per_shard long, block_size int, analyzer string, "
        "positional boolean",
    ).write.mode("overwrite").parquet(paths.corpus_stats + "__new")
    for p in (paths.term_stats, paths.corpus_stats):
        old = p + "__old"
        shutil.rmtree(old, ignore_errors=True)
        os.rename(p, old)
        os.rename(p + "__new", p)
        shutil.rmtree(old, ignore_errors=True)


def _overwrite_docmap_shards(
    spark: SparkSession, paths: IndexPaths, shards: list[int], rows: DataFrame
) -> None:
    """Replace the docmap partitions for ``shards`` with ``rows`` (which must
    contain exactly those shards' rows, including surviving old rows).

    ``rows`` reads from the same docmap being rewritten, so the new rows are
    STAGED to a sibling dir first (read-before-delete), then swapped in —
    the parquet stand-in for Iceberg's snapshot isolation on MERGE."""
    staging = paths.docmap + "__staging"
    shutil.rmtree(staging, ignore_errors=True)
    rows.write.mode("overwrite").partitionBy("shard").parquet(staging)
    for s in shards:
        shutil.rmtree(os.path.join(paths.docmap, f"shard={s}"), ignore_errors=True)
    spark.read.parquet(staging).write.mode("append").partitionBy("shard").parquet(
        paths.docmap
    )
    shutil.rmtree(staging, ignore_errors=True)


def _invalidate_shards(paths: IndexPaths, ckpt: dict, shards: list[int]) -> None:
    for s in shards:
        shutil.rmtree(os.path.join(paths.postings, f"shard={s}"), ignore_errors=True)
    done = set(ckpt["done_shards"]) - set(shards)
    ckpt["done_shards"] = sorted(done)
    _write_checkpoint(paths, ckpt)


def add_documents(
    corpus: DataFrame,
    out_dir: str,
    new_docs: DataFrame,
    text_col: str = "text",
    url_col: str = "url",
) -> PhysicalIndex:
    """Append ``new_docs`` (rows not yet indexed) to the index at ``out_dir``.

    ``corpus`` is the FULL post-append corpus (the Iceberg table after the
    ingest commit); only the affected shards' docs are re-read/re-tokenized.
    New doc_ids continue after the current max (insertion order by url within
    the batch), mirroring the reference's append-at-end id assignment
    (hybrid.py:86-88).
    """
    spark = corpus.sparkSession
    paths = IndexPaths(out_dir)
    idx = load_index(spark, out_dir)
    params, layout = _params_from_index(idx)
    span = layout.docs_per_shard
    ckpt = _read_checkpoint(paths)

    old = idx.docmap.agg(
        F.max("doc_id").alias("max_id"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    next_id, n_old = int(old["max_id"]) + 1, int(old["n"])

    # idempotence: drop urls already committed to the index, so re-running
    # the same batch after a mid-maintenance crash (or an at-least-once
    # delivery duplicate) completes the remainder instead of double-applying
    # docmap rows and df deltas. (The remaining non-atomic window — a crash
    # between the docmap partition swap's delete and append — is what a real
    # Iceberg snapshot commit closes; see _overwrite_docmap_shards.)
    new_docs = new_docs.join(
        idx.docmap.select(F.col("url").alias(url_col)), url_col, "left_anti"
    )

    from pyspark.sql import Window

    w = Window.orderBy(url_col)
    # eager localCheckpoint SEVERS lineage: callers may pass ``new_docs`` as a
    # plan reading the index's own tables (the streaming ingest anti-joins
    # docmap), and Spark invalidates caches on any write to a source path
    # (refreshByPath on insert) — so a mere persist() would silently
    # re-evaluate against the post-mutation docmap. Checkpointed blocks have
    # no path dependency. (Iceberg deployment: read the pre-commit snapshot
    # instead.)
    with_ids = new_docs.withColumn(
        "doc_id", F.row_number().over(w).cast("long") + F.lit(next_id - 1)
    ).localCheckpoint(eager=True)
    dl = doc_lengths(with_ids, id_col="doc_id", text_col=text_col)
    new_rows = (
        with_ids.select("doc_id", F.col(url_col).alias("url"))
        .join(dl, "doc_id")
        .select(
            (F.col("doc_id") / span).cast("int").alias("shard"),
            "doc_id",
            "url",
            "doc_len",
        )
    )
    new_rows.persist()
    agg = new_rows.agg(
        F.count(F.lit(1)).alias("n"), F.sum("doc_len").alias("sum_dl")
    ).collect()[0]
    n_new, sum_dl_new = int(agg["n"]), float(agg["sum_dl"] or 0.0)
    if n_new == 0:
        new_rows.unpersist()
        return idx
    affected = sorted(
        r["shard"] for r in new_rows.select("shard").distinct().collect()
    )

    # stats delta MUST be materialized before any index table is mutated:
    # callers may pass ``new_docs`` as a plan that reads the index itself
    # (e.g. the streaming ingest anti-joins against docmap to drop seen
    # urls), and re-evaluating it after the docmap rewrite would see the
    # post-mutation state and produce an empty/partial delta.
    from ..functions.analyzers import fold_doc_terms

    delta = (
        fold_doc_terms(
            doc_terms(with_ids, id_col="doc_id", text_col=text_col), idx.analyzer
        )
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("d_df"))
    )
    delta.persist()
    delta.count()

    # docmap: affected partitions = surviving old rows + new rows
    old_in_affected = idx.docmap.where(F.col("shard").isin(affected))
    _overwrite_docmap_shards(
        spark, paths, affected, old_in_affected.unionByName(new_rows)
    )
    merged = (
        idx.terms.select("term", "df")
        .join(delta, "term", "full_outer")
        .select(
            "term",
            (F.coalesce(F.col("df"), F.lit(0)) + F.coalesce(F.col("d_df"), F.lit(0))).alias(
                "df"
            ),
        )
    )
    n_docs = n_old + n_new
    avgdl = (idx.stats.avgdl * n_old + sum_dl_new) / n_docs
    _rewrite_stats(spark, paths, merged, n_docs, avgdl, params, layout, analyzer=idx.analyzer, positional=idx.positional)

    # postings: rebuild only the affected shards via the resume machinery
    ckpt["n_shards"] = max(int(ckpt["n_shards"]), affected[-1] + 1) if affected else ckpt["n_shards"]
    ckpt["fingerprint"]["n_docs"] = n_docs
    ckpt["fingerprint"]["avgdl"] = avgdl
    _invalidate_shards(paths, ckpt, affected)
    new_rows.unpersist()
    delta.unpersist()
    return build_index(
        corpus, out_dir, text_col=text_col, url_col=url_col, params=params,
        layout=layout, analyzer=idx.analyzer, store_positions=idx.positional,
    )


def _decode_kernel(docs_per_shard: int):
    """applyInPandas over (shard, bucket): posting blocks -> (doc_id, term, tf)."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        out_d, out_t, out_f = [], [], []
        for (term, _shard), (ids, tfs) in decode_postings(pdf, docs_per_shard).items():
            out_d.extend(ids.tolist())
            out_t.extend([term] * len(ids))
            out_f.extend(tfs.tolist())
        return pd.DataFrame({"doc_id": out_d, "term": out_t, "tf": out_f})

    return fn


def decode_shard_postings(idx: PhysicalIndex, shards: list[int]) -> DataFrame:
    """Lossless inverse of the build: (doc_id, term, tf) for the given shards."""
    pf = idx.postings.where(F.col("shard").isin(shards)).select(
        "shard", "bucket", "term", "block_id", "first_doc_id", "n_docs", "deltas", "tfs"
    )
    return pf.groupBy("shard", "bucket").applyInPandas(
        _decode_kernel(idx.docs_per_shard), schema="doc_id long, term string, tf long"
    )


def remove_documents(
    corpus_after: DataFrame,
    out_dir: str,
    urls: list[str],
    text_col: str = "text",
    url_col: str = "url",
) -> PhysicalIndex:
    """Delete the given urls from the index at ``out_dir``.

    ``corpus_after`` is the corpus AFTER the delete commit (the removed rows'
    text is gone); the removed docs' term counts are recovered by decoding
    their shards' posting blocks. Surviving doc_ids are unchanged (no
    renumbering — scores depend only on stats, not id values).
    """
    spark = corpus_after.sparkSession
    paths = IndexPaths(out_dir)
    idx = load_index(spark, out_dir)
    params, layout = _params_from_index(idx)
    ckpt = _read_checkpoint(paths)

    removed = (
        idx.docmap.where(F.col("url").isin(urls))
        .select("shard", "doc_id", "doc_len")
        .localCheckpoint(eager=True)  # sever docmap lineage (see add_documents)
    )
    agg = removed.agg(
        F.count(F.lit(1)).alias("n"), F.sum("doc_len").alias("sum_dl")
    ).collect()[0]
    n_removed, sum_dl_removed = int(agg["n"]), float(agg["sum_dl"] or 0.0)
    if n_removed == 0:
        return idx
    affected = sorted(r["shard"] for r in removed.select("shard").distinct().collect())

    # df deltas: decode ONLY the affected shards, keep rows of removed docs
    removed_ids = removed.select("doc_id")
    delta = (
        decode_shard_postings(idx, affected)
        .join(F.broadcast(removed_ids), "doc_id")
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("d_df"))
    )
    merged = (
        idx.terms.select("term", "df")
        .join(delta, "term", "left")
        .select(
            "term",
            (F.col("df") - F.coalesce(F.col("d_df"), F.lit(0))).alias("df"),
        )
        .where(F.col("df") > 0)
    )

    n_old = idx.stats.n_docs
    n_docs = n_old - n_removed
    if n_docs == 0:
        raise ValueError("removing every document; drop the index instead")
    avgdl = (idx.stats.avgdl * n_old - sum_dl_removed) / n_docs
    _rewrite_stats(spark, paths, merged, n_docs, avgdl, params, layout, analyzer=idx.analyzer, positional=idx.positional)

    # docmap: affected partitions minus the removed rows
    surviving = idx.docmap.where(F.col("shard").isin(affected)).join(
        removed_ids, "doc_id", "left_anti"
    ).select("shard", "doc_id", "url", "doc_len")
    _overwrite_docmap_shards(spark, paths, affected, surviving)

    _invalidate_shards(paths, ckpt, affected)
    return build_index(
        corpus_after, out_dir, text_col=text_col, url_col=url_col,
        params=params, layout=layout, analyzer=idx.analyzer, store_positions=idx.positional,
    )
