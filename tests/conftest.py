from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from neural_search_spark.corpus import corpus_df, make_corpus_pdf  # noqa: E402
from neural_search_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("neural-search-spark-tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_pdf_small():
    """200-doc deterministic synthetic corpus (pandas)."""
    return make_corpus_pdf(n_docs=200, seed=42)


@pytest.fixture(scope="session")
def corpus_small(spark):
    df = corpus_df(spark, n_docs=200, seed=42)
    df = df.repartition(8, "url")
    df.persist()
    df.count()
    return df


def _check_postings_layout(postings_dir: str) -> dict:
    """Assert the posting file shape ``index/build.py:_write_postings``
    writes: one file per ``shard=K`` directory, rows sorted by (term,
    block_id), row groups of at most ``POSTINGS_ROW_GROUP_ROWS`` rows, zstd
    on every column chunk, and row-group term ranges in ascending order that
    share at most a boundary term (a term whose blocks straddle two row
    groups). Returns {shard: number of row groups}."""
    import glob

    import pyarrow.parquet as pq

    from neural_search_spark.index.build import (
        POSTINGS_COMPRESSION,
        POSTINGS_ROW_GROUP_ROWS,
    )

    row_groups = {}
    for shard_dir in sorted(glob.glob(os.path.join(postings_dir, "shard=*"))):
        files = glob.glob(os.path.join(shard_dir, "*.parquet"))
        assert len(files) == 1, (shard_dir, files)
        pf = pq.ParquetFile(files[0])
        md = pf.metadata
        col = md.schema.names.index("term")
        prev_max = None
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            assert rg.num_rows <= POSTINGS_ROW_GROUP_ROWS
            assert {
                rg.column(j).compression for j in range(rg.num_columns)
            } == {POSTINGS_COMPRESSION.upper()}
            st = rg.column(col).statistics
            assert prev_max is None or prev_max <= st.min, (shard_dir, i)
            prev_max = st.max
        t = pf.read(columns=["term", "block_id"])
        keys = list(zip(t["term"].to_pylist(), t["block_id"].to_pylist()))
        assert keys == sorted(keys), shard_dir
        row_groups[int(os.path.basename(shard_dir)[len("shard="):])] = md.num_row_groups
        pf.close()
    assert row_groups, postings_dir
    return row_groups


@pytest.fixture
def check_postings_layout():
    return _check_postings_layout
