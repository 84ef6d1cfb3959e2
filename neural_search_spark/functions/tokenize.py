"""Tokenization and text extraction — the bit-exactness frontier.

The reference tokenizer (``/root/reference/src/neural_search/core/hybrid.py:39-52``)
is ``text.lower()`` followed by ``re.findall(r"\\b\\w+\\b", text)`` with Python
``re`` Unicode semantics. Rank identity of the whole engine hinges on producing
the *same token stream*, so these kernels run Python ``re`` inside Arrow-batched
pandas UDFs — never a JVM regexp, whose ``\\w``/``\\b`` Unicode classes differ.

``re.findall(r"\\b\\w+\\b", s)`` returns exactly the maximal runs of ``\\w``
characters (the boundaries are implied by maximality), so the single-pass
``\\w+`` scan used here is token-for-token identical.

No per-row Python UDFs: everything is a pandas UDF / mapInPandas over Arrow
batches (the per-element loop inside a batch is the unavoidable ``re`` kernel,
amortized over thousands of rows per batch). The kernel itself, ``_TOKEN_RE``
and ``tokenize_py``, lives in the Spark-free ``functions/tokens.py``, so the
serving replica tokenizes without importing pyspark or pandas.
"""

from __future__ import annotations

import re
from collections import Counter
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .tokens import _TOKEN_RE


@pandas_udf(T.ArrayType(T.StringType()))
def tokenize_udf(texts: pd.Series) -> pd.Series:
    """string -> array<string>, reference-identical token stream."""
    return texts.map(lambda t: _TOKEN_RE.findall(t.lower()) if isinstance(t, str) else [])


@pandas_udf(T.IntegerType())
def token_count_udf(texts: pd.Series) -> pd.Series:
    return texts.map(lambda t: len(_TOKEN_RE.findall(t.lower())) if isinstance(t, str) else 0)


# --- HTML text extraction ---------------------------------------------------
# The reference never parses HTML: documents arrive with the authoritative
# `content` string (/root/reference/src/neural_search/api/schemas.py:14) and are
# stored verbatim. Our corpus fixtures wrap `text` in a fixed html envelope
# (FIXTURES.md §1), so extraction is the deterministic inverse of that wrapper
# and the invariant `extract(html) == text` is byte-checkable per url.

_EXTRACT_RE = re.compile(rb"<p>(.*?)</p>", re.DOTALL)


def extract_text_py(html: bytes | None) -> str:
    if not html:
        return ""
    m = _EXTRACT_RE.search(html)
    return m.group(1).decode("utf-8") if m else ""


@pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """binary -> string: deterministic text extraction from the html envelope."""
    return html.map(extract_text_py)


# --- One-pass (doc_id, term, tf, doc_len) kernel -----------------------------
# Emits one row per *distinct* term per document (not one per token), so the
# downstream shuffle carries |doc| x |distinct terms| rows instead of raw token
# counts — the map-side combine happens inside the Arrow batch, for free.

_DOC_TERMS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("term", T.StringType()),
        T.StructField("tf", T.IntegerType()),
        T.StructField("doc_len", T.IntegerType()),
    ]
)


def doc_terms(corpus: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Tokenize + per-doc term frequencies in one Arrow pass.

    Replaces the reference's per-doc Python loop + Counter
    (rank-bm25 ``_initialize``, driven by ``hybrid.py:69-72``) with a
    mapInPandas kernel: no explode shuffle, tf combined map-side.
    """
    src = corpus.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            terms: list[str] = []
            tfs: list[int] = []
            dls: list[int] = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = _TOKEN_RE.findall(text.lower()) if isinstance(text, str) else []
                dl = len(toks)
                for term, tf in Counter(toks).items():
                    ids.append(doc_id)
                    terms.append(term)
                    tfs.append(tf)
                    dls.append(dl)
            yield pd.DataFrame({"doc_id": ids, "term": terms, "tf": tfs, "doc_len": dls})

    return src.mapInPandas(kernel, schema=_DOC_TERMS_SCHEMA)


def doc_lengths(corpus: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, doc_len) without materializing terms."""
    return corpus.select(
        F.col(id_col).alias("doc_id"),
        token_count_udf(F.col(text_col)).alias("doc_len"),
    )
