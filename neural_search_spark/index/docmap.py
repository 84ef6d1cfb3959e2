"""Deterministic dense doc-id assignment at scale.

The reference's doc ids are list positions in insertion order
(``/root/reference/src/neural_search/core/hybrid.py:65-66,86-88``). The
distributed stand-in (SURVEY.md §7.3.6) is a deterministic total order by
``url``. A naive ``row_number() OVER (ORDER BY url)`` collapses to a single
partition — a non-starter at 10^12 rows — so we use the TeraSort pattern:

  1. range-partition by url + sort within partitions (scalable global sort),
  2. tiny job counting rows per partition -> driver-side offsets,
  3. one projection of Spark built-ins assigning ``offset[pid] + row``:
     ``monotonically_increasing_id()`` is ``pid << 33 | row``, so its low 33
     bits are the row's position in its partition. No Python runs, so a
     build's only Python pass over the text is the tokenizer.

The partitioned DataFrame is persisted between passes so both see identical
partitioning and row order, and stays persisted for every later action on
the result: re-sampling the range bounds could assign other ids.
``release_doc_ids`` unpersists it once the caller is done with the ids.
"""

from __future__ import annotations

import weakref

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def find_doc_id_col(df: DataFrame) -> str | None:
    """The column of ``df`` that resolves as ``doc_id`` under the session's
    column-resolution rules, or None.

    Spark resolves column references case-insensitively by default, so a
    ``DOC_ID`` column collides with an appended ``doc_id`` just as surely as
    an exact-case one — UNLESS the session runs with
    ``spark.sql.caseSensitive=true``, where only the exact-case name
    collides. One shared resolver for ``assign_doc_ids``' clash guard and
    the pack CLI's use-existing-column check, so the two sites cannot drift.
    """
    exact = next((c for c in df.columns if c == "doc_id"), None)
    if exact is not None:
        return exact
    case_sensitive = (
        str(df.sparkSession.conf.get("spark.sql.caseSensitive", "false")).lower()
        == "true"
    )
    if case_sensitive:
        return None
    return next((c for c in df.columns if c.lower() == "doc_id"), None)


# each assign_doc_ids result -> the persisted range partitioning behind it
_ID_SOURCES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def reject_doc_id_clash(corpus: DataFrame) -> None:
    """Raise if ``corpus`` already has a column that resolves as ``doc_id``:
    appending a second one would only surface much later as an
    AMBIGUOUS_REFERENCE inside whatever consumes the frame, so fail at the
    call that caused it."""
    clash = find_doc_id_col(corpus)
    if clash is not None:
        raise ValueError(
            f"corpus already has a doc_id column ({clash!r}); pass "
            "id_col='doc_id' to build_index (or drop/rename the column) "
            "instead of re-assigning"
        )


def release_doc_ids(with_ids: DataFrame) -> None:
    """Unpersist the range partitioning behind an ``assign_doc_ids``
    result. Later actions on ``with_ids`` re-sample the range bounds, so
    call it only once the ids have been written out."""
    parts = _ID_SOURCES.pop(with_ids, None)
    if parts is not None:
        parts.unpersist()


def assign_doc_ids(
    corpus: DataFrame,
    order_col: str = "url",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append ``doc_id`` = dense rank of ``order_col`` (0-based, no gaps)."""
    reject_doc_id_clash(corpus)
    spark = corpus.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    parts = corpus.repartitionByRange(n, F.col(order_col)).sortWithinPartitions(order_col)
    parts.persist(StorageLevel.MEMORY_AND_DISK)

    counts = (
        parts.select(F.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .count()
        .collect()
    )
    by_pid = {r["pid"]: r["count"] for r in counts}
    offsets, acc = [], 0
    for pid in range(max(by_pid, default=0) + 1):
        offsets.append(acc)
        acc += by_pid.get(pid, 0)

    # with ANSI mode off an array lookup is nullable, though every row's pid
    # is counted; coalesce keeps doc_id non-null in the schema and the docmap
    row = F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
    offset = F.array(*map(F.lit, offsets))[F.spark_partition_id()]
    doc_id = F.coalesce(offset + row, F.lit(0))
    with_ids = parts.select(doc_id.alias("doc_id"), "*")
    _ID_SOURCES[with_ids] = parts
    return with_ids
