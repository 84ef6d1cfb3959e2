"""Sequence packing — concat-and-chunk layout for LLM training batches.

A training-data pipeline's last step lays documents out into fixed-length
training sequences: concatenate every document's tokens in a deterministic
corpus order and cut the stream every ``budget`` tokens (the GPT-style
"pack then chunk" scheme — each document knows which training chunks it
lands in, and chunk boundaries may split documents). The reference engine
stops at retrieval (no training-export surface); this operator is part of
the beyond-reference pipeline tier.

The core is a *global running total* of token counts in doc_id order. A
naive ``sum() OVER (ORDER BY doc_id)`` collapses to a single partition —
the same non-starter as ``row_number`` for id assignment — so this reuses
the TeraSort pattern from ``index/docmap.py``:

  1. range-partition by doc_id + sort within partitions,
  2. tiny per-partition token-sum job -> driver-side cumulative offsets
     (one long per partition),
  3. partition-local cumulative sums shifted by the partition offset
     (Arrow-batched kernel, no cross-partition traffic). Id assignment
     does step 3 with Spark built-ins because a row's position in its
     partition is in ``monotonically_increasing_id``; no built-in holds
     a running sum of another column, so this step keeps its kernel.

Output per document (all exact integer arithmetic):

  tok_start   global offset of the doc's first token
  chunk_start floor(tok_start / budget)
  chunk_end   floor((tok_start + n_tokens - 1) / budget)  (empty docs:
              chunk_start, so every doc maps to >= 1 chunk deterministically)
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def pack_sequences(
    doc_tokens: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    len_col: str = "n_tokens",
    num_partitions: int | None = None,
) -> DataFrame:
    """(doc_id, n_tokens, tok_start, chunk_start, chunk_end): assign each
    document its token span and training-chunk range in the concatenated
    ``id_col``-ordered token stream cut every ``budget`` tokens."""
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    spark = doc_tokens.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    # Materialize the narrow (doc_id, n_tokens) projection BEFORE the range
    # exchange: RangePartitioner's boundary sampling evaluates its child in a
    # separate pass (skipped only at n=1), so an expensive upstream — the
    # caller's tokenize UDF over full text — would otherwise run twice at any
    # real parallelism while the n=1 job runs it once (unfair N-vs-4N
    # comparisons, and 2x wasted scan at scale). The checkpointed rows are 16
    # bytes/doc, so at 10^10 docs this is ~160 GB cluster-wide — the same
    # narrow-relation-first shape the index build uses.
    narrow = (
        doc_tokens.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.col(len_col).cast("long").alias("n_tokens"),
        ).localCheckpoint(eager=True)
    )
    # Eager localCheckpoint (not persist): the kernel below correlates
    # spark_partition_id across TWO jobs, so the partitioning must be pinned.
    # A persisted plan can lose cached partitions and recompute through
    # repartitionByRange, which re-samples range boundaries — rows could move
    # between partitions after the offsets were collected, silently shifting
    # tok_start. Checkpointing truncates the lineage (no recompute path) and
    # its blocks are released with the DataFrame, so nothing leaks in
    # long-lived sessions. Same pattern as index/maintenance.py.
    parts = (
        narrow.repartitionByRange(n, F.col("doc_id"))
        .sortWithinPartitions("doc_id")
        .localCheckpoint(eager=True)
    )

    sums = (
        parts.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.sum("n_tokens").alias("toks"))
        .collect()
    )
    by_pid = {r["pid"]: int(r["toks"]) for r in sums}
    offsets: dict[int, int] = {}
    acc = 0
    for pid in range(max(by_pid, default=-1) + 1):
        offsets[pid] = acc
        acc += by_pid.get(pid, 0)
    boff = spark.sparkContext.broadcast(offsets)

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("n_tokens", T.LongType(), False),
            T.StructField("tok_start", T.LongType(), False),
            T.StructField("chunk_start", T.LongType(), False),
            T.StructField("chunk_end", T.LongType(), False),
        ]
    )
    b = int(budget)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ctx = TaskContext.get()
        pos = boff.value.get(ctx.partitionId(), 0)
        for pdf in batches:
            lens = pdf["n_tokens"].to_numpy()
            starts = lens.cumsum() - lens + pos
            pos = int(pos + lens.sum())
            last = starts + lens - 1
            # empty doc: zero-width span anchored at its stream position
            last[lens == 0] = starts[lens == 0]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "n_tokens": lens,
                    "tok_start": starts,
                    "chunk_start": starts // b,
                    "chunk_end": last // b,
                }
            )

    return parts.mapInPandas(kernel, schema=schema)


def chunk_manifest(packed: DataFrame, budget: int) -> DataFrame:
    """(chunk_id, n_docs, n_tokens): how many documents and tokens land in
    each training chunk — the export-side manifest. A doc spanning k chunks
    counts toward each; token attribution is exact per-chunk overlap.
    Zero-token docs occupy no tokens and are excluded (consistent with
    :func:`export_chunks` — otherwise a trailing empty doc anchored on an
    exact budget boundary would manifest a chunk the export never writes).

    One explode bounded by (tokens / budget) extra rows corpus-wide (each doc
    spans ceil(len/budget)+1 chunks at most), then one bounded groupBy.
    """
    b = int(budget)
    spans = packed.where(F.col("n_tokens") > 0).select(
        "doc_id",
        "n_tokens",
        "tok_start",
        F.explode(F.sequence("chunk_start", "chunk_end")).alias("chunk_id"),
    )
    lo = F.greatest(F.col("tok_start"), F.col("chunk_id") * b)
    hi = F.least(F.col("tok_start") + F.col("n_tokens"), (F.col("chunk_id") + 1) * b)
    return (
        spans.withColumn("toks_here", F.greatest(hi - lo, F.lit(0)))
        .groupBy("chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("toks_here").alias("n_tokens"),
        )
    )


def export_chunks(
    doc_tokens_arr: DataFrame,
    packed: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """(chunk_id, n_tokens, text): the materialized training sequences —
    each chunk's token stream assembled from the documents whose spans it
    overlaps (split docs contribute exactly their overlap slice, in stream
    order). The export side of :func:`pack_sequences`; every chunk except
    the last is exactly ``budget`` tokens.

    Plan shape: the span explode is bounded by tokens/budget extra rows;
    each doc ships only the token SLICE a chunk needs (codegen ``slice``,
    no full-array duplication per spanned chunk beyond the overlap); one
    groupBy(chunk_id) with the ordered-reassembly pattern (sort_array over
    (tok_start, piece) structs, then flatten) — the same shape the line
    operators use, never a per-row array_position scan.
    """
    b = int(budget)
    spans = (
        packed.where(F.col("n_tokens") > 0)
        .select(
            "doc_id",
            "tok_start",
            "n_tokens",
            F.explode(F.sequence("chunk_start", "chunk_end")).alias("chunk_id"),
        )
    )
    toks = doc_tokens_arr.select(
        F.col(id_col).alias("doc_id"), F.col(tokens_col).alias("_toks")
    )
    lo = F.greatest(F.col("tok_start"), F.col("chunk_id") * b)
    hi = F.least(F.col("tok_start") + F.col("n_tokens"), (F.col("chunk_id") + 1) * b)
    piece = F.slice(
        F.col("_toks"),
        (lo - F.col("tok_start") + 1).cast("int"),
        (hi - lo).cast("int"),
    )
    pieces = spans.join(toks, "doc_id").select(
        "chunk_id", F.struct(F.col("tok_start"), piece.alias("piece")).alias("p")
    )
    assembled = pieces.groupBy("chunk_id").agg(
        F.flatten(
            F.transform(F.sort_array(F.collect_list("p")), lambda x: x["piece"])
        ).alias("toks")
    )
    return assembled.select(
        "chunk_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.concat_ws(" ", "toks").alias("text"),
    )
