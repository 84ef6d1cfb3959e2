"""Merge two physical indexes into one — the 100 TB partial-build path.

The reference holds one in-memory index and rebuilds it wholesale
(``/root/reference/src/neural_search/core/hybrid.py:93``); at cluster scale
the natural build plan for a huge corpus is *independent partial builds*
(per day / per source partition) followed by a merge. Tokenization is the
dominant build cost, so the merge must not retokenize — and it doesn't:

* B's doc_ids are shifted by a MULTIPLE of ``docs_per_shard`` (the next free
  shard boundary after A), so every within-shard delta in B's compressed
  posting blocks is unchanged — the blocks are reused **verbatim**, only the
  ``shard`` label and the absolute ``first_doc_id``/``last_doc_id`` columns
  move. This works because blocks are stats-independent by design (they
  carry ``(max_tf, min_dl)``, not score bounds — see ``codec.py``): no
  global statistic is baked into the payload, so re-basing is a metadata
  relabel, not a re-encode.
* Global stats merge exactly: ``df`` adds (disjoint corpora), ``n_docs``
  adds, ``avgdl`` is recomputed from the merged docmap (the same aggregate a
  fresh build runs), and idf floors re-derive from the merged vocabulary.

Cost: O(postings bytes) copy + O(vocabulary) stats join + O(1) manifests —
no tokenize, no shuffle of the corpus text. The postings go out through the
build's ``_write_postings``, so the merged index keeps the term-sorted,
one-file-per-shard layout the replica prunes reads with. The merged index is
query-equivalent (per url, score) to a fresh build over the union; verified
in tests/test_merge.py and the ``merge_equivalence`` driver entry.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .build import (
    IndexPaths,
    PhysicalIndex,
    _write_checkpoint,
    _write_postings,
    load_index,
)
from .stats import floored_term_stats, mean_raw_idf


def _check_compatible(a: PhysicalIndex, b: PhysicalIndex) -> None:
    for attr in ("k1", "b", "epsilon"):
        va, vb = getattr(a.stats, attr), getattr(b.stats, attr)
        if va != vb:
            raise ValueError(f"incompatible BM25 params: {attr} {va} != {vb}")
    if a.docs_per_shard != b.docs_per_shard or a.block_size != b.block_size:
        raise ValueError(
            "incompatible layouts: "
            f"({a.docs_per_shard},{a.block_size}) != ({b.docs_per_shard},{b.block_size})"
        )
    if a.analyzer != b.analyzer:
        raise ValueError(
            f"incompatible analyzers: {a.analyzer!r} != {b.analyzer!r} — "
            "posting terms live in different analysis spaces"
        )
    if a.positional != b.positional:
        raise ValueError(
            "incompatible position storage: "
            f"{a.positional} != {b.positional} — a merged index must be "
            "uniformly phrase-queryable or not"
        )


def merge_indexes(
    spark: SparkSession,
    a_dir: str,
    b_dir: str,
    out_dir: str,
    check_disjoint: bool = True,
) -> PhysicalIndex:
    """Merge the indexes at ``a_dir`` and ``b_dir`` into ``out_dir``.

    The inputs' corpora must be url-disjoint (partial builds over a
    partitioned corpus are disjoint by construction; ``check_disjoint=False``
    skips the guard join when the caller knows that). A keeps its doc_ids;
    B's are shifted to the next free shard boundary. The result is a normal
    index: queryable by every reader and maintainable by add/remove.
    """
    t_start = time.time()
    a, b = load_index(spark, a_dir), load_index(spark, b_dir)
    _check_compatible(a, b)
    span = a.docs_per_shard

    if check_disjoint:
        dup = (
            a.docmap.select("url")
            .join(b.docmap.select("url"), "url")
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(f"corpora are not url-disjoint (e.g. {dup[0]['url']!r})")

    max_a = int(a.docmap.agg(F.max("doc_id")).collect()[0][0])
    shard_shift = max_a // span + 1
    offset = shard_shift * span
    n_shards_b = int(b.docmap.agg(F.max("shard")).collect()[0][0]) + 1

    paths = IndexPaths(out_dir)
    os.makedirs(out_dir, exist_ok=True)

    # --- docmap: A verbatim + B relabeled ------------------------------------
    dm_b = b.docmap.select(
        (F.col("shard") + shard_shift).cast("int").alias("shard"),
        (F.col("doc_id") + offset).alias("doc_id"),
        "url",
        "doc_len",
    )
    dm_a = a.docmap.select("shard", "doc_id", "url", "doc_len")
    dm_a.unionByName(dm_b).write.mode("overwrite").partitionBy("shard").parquet(
        paths.docmap
    )

    # --- postings: payload bytes pass through untouched ----------------------
    post_cols = [
        "shard",
        "bucket",
        "term",
        "block_id",
        "first_doc_id",
        "last_doc_id",
        "n_docs",
        "max_tf",
        "min_dl",
        "deltas",
        "tfs",
    ] + (["positions"] if a.positional else [])
    p_b = b.postings.select(
        (F.col("shard") + shard_shift).cast("int").alias("shard"),
        "bucket",
        "term",
        "block_id",
        (F.col("first_doc_id") + offset).alias("first_doc_id"),
        (F.col("last_doc_id") + offset).alias("last_doc_id"),
        "n_docs",
        "max_tf",
        "min_dl",
        "deltas",
        "tfs",
        *(["positions"] if a.positional else []),
    )
    _write_postings(a.postings.select(*post_cols).unionByName(p_b), paths.postings)

    # --- global stats: exact df addition, fresh-build-identical avgdl --------
    n_docs = a.stats.n_docs + b.stats.n_docs
    merged_df = (
        a.terms.select("term", "df")
        .join(b.terms.select("term", F.col("df").alias("df_b")), "term", "full_outer")
        .select(
            "term",
            (F.coalesce("df", F.lit(0)) + F.coalesce("df_b", F.lit(0))).alias("df"),
        )
    )
    ts = merged_df.select(
        "term",
        "df",
        (
            F.log(F.lit(float(n_docs)) - F.col("df") + 0.5) - F.log(F.col("df") + 0.5)
        ).alias("raw_idf"),
    ).persist()
    average_idf = mean_raw_idf(ts)
    from ..config import BM25Params

    params = BM25Params(k1=a.stats.k1, b=a.stats.b, epsilon=a.stats.epsilon)
    floored_term_stats(ts, average_idf, params).write.mode("overwrite").parquet(
        paths.term_stats
    )
    ts.unpersist()

    avgdl = float(
        spark.read.parquet(paths.docmap).agg(F.avg("doc_len")).collect()[0][0] or 0.0
    )
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
                a.block_size,
                a.analyzer,
                bool(a.positional),
            )
        ],
        "n_docs long, avgdl double, average_idf double, k1 double, b double, "
        "epsilon double, docs_per_shard long, block_size int, analyzer string, "
        "positional boolean",
    ).write.mode("overwrite").parquet(paths.corpus_stats)

    # --- lineage + manifest: a normal, fully-committed index -----------------
    build_id = str(uuid.uuid4())
    for src in (a, b):
        try:
            m = spark.read.parquet(src.paths.metrics)
            m.write.mode("append").parquet(paths.metrics)
        except Exception:
            pass  # metrics are optional lineage
    n_shards = shard_shift + n_shards_b
    _write_checkpoint(
        paths,
        {
            "build_id": build_id,
            "phase1_done": True,
            "phase1_elapsed_sec": time.time() - t_start,
            "merged_from": [a_dir, b_dir],
            "fingerprint": {
                "n_docs": n_docs,
                "avgdl": avgdl,
                "k1": params.k1,
                "b": params.b,
                "epsilon": params.epsilon,
                "docs_per_shard": span,
                "block_size": a.block_size,
            },
            "n_shards": n_shards,
            "done_shards": list(range(n_shards)),
        },
    )
    return load_index(spark, out_dir)
