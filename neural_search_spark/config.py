"""Engine configuration.

BM25 parameters mirror the reference service's settings
(``/root/reference/src/neural_search/config.py:64-65``: k1=1.5, b=0.75) and the
published rank-bm25 0.2.2 ``BM25Okapi`` default ``epsilon=0.25`` (the reference
pins rank-bm25 at ``/root/reference/pyproject.toml:21`` and never overrides
epsilon at the ``BM25Okapi`` construction site
``/root/reference/src/neural_search/core/hybrid.py:72``).
"""

from __future__ import annotations

import os
import sys
from dataclasses import dataclass


@dataclass(frozen=True)
class BM25Params:
    """Okapi BM25 parameters, reference-identical defaults."""

    k1: float = 1.5
    b: float = 0.75
    epsilon: float = 0.25  # negative-IDF floor factor (x average_idf)


@dataclass(frozen=True)
class IndexLayout:
    """Physical layout knobs for the sharded inverted index.

    ``docs_per_shard`` — contiguous doc_id span per shard. Each shard holds the
    full posting data for its doc range, so query-time block-max WAND runs
    shard-parallel and a single head term can never concentrate more than one
    shard's worth of postings in one task (head-term skew defused by layout,
    complementing the build-side salted repartition-by-term).

    ``block_size`` — docIDs per compressed posting block (delta+varint with a
    per-block max-score bound), the granularity of WAND skipping.
    """

    docs_per_shard: int = 1 << 16  # 65,536 docs per shard
    block_size: int = 128


DEFAULT_PARAMS = BM25Params()
DEFAULT_LAYOUT = IndexLayout()

# Reference search-surface defaults (/root/reference/src/neural_search/config.py:56-62)
DEFAULT_TOP_K = 10
MAX_TOP_K = 100
HYBRID_ALPHA = 0.5
RRF_K = 60  # /root/reference/src/neural_search/core/hybrid.py:226
RERANK_TOP_K = 50


def int_field(value, name: str, lo: int | None = None, hi: int | None = None) -> int:
    """Request field ``name`` as an int inside ``[lo, hi]``: an int, or a
    float with an integral value (JSON ``3.0``). A bool, a string, a
    fraction, a non-finite number or a value out of range is a ValueError
    that names the field."""
    if isinstance(value, bool) or not isinstance(value, (int, float)) or (
        isinstance(value, float) and not value.is_integer()
    ):
        raise ValueError(f"{name} must be an integer, got {value!r}")
    value = int(value)
    if (lo is not None and value < lo) or (hi is not None and value > hi):
        bound = f">= {lo}" if hi is None else f"in [{lo}, {hi}]"
        raise ValueError(f"{name} must be {bound}, got {value}")
    return value


def float_field(value, name: str) -> float:
    """Request field ``name`` as a finite float; a bool, a string, NaN, an
    infinity or an int no float holds is a ValueError that names the field."""
    if isinstance(value, bool) or not isinstance(value, (int, float)) or not (
        -sys.float_info.max <= value <= sys.float_info.max
    ):
        raise ValueError(f"{name} must be a finite number, got {value!r}")
    return float(value)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
