"""Tokenizer parity: our pandas-UDF tokenizer vs the reference semantics.

Reference: text.lower() then re.findall(r"\\b\\w+\\b", text)
(/root/reference/src/neural_search/core/hybrid.py:39-52). The cases below are
the Unicode/punctuation/digit/underscore landmines from SURVEY.md §5.2.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F

from neural_search_spark.functions.tokenize import (
    doc_terms,
    extract_text_py,
    tokenize_udf,
)
from neural_search_spark.functions.tokens import tokenize_py

CASES = [
    "Hello World",
    "hello,world!",
    "foo_bar baz-qux",
    "42nd street, 2nd try",
    "Müller naïve ÉCOLE",
    "東京 tower",
    "  multiple   spaces\tand\nnewlines ",
    "",
    "UPPER lower MiXeD",
    "punct!!! ... ??? only",
    "under_score __dunder__ _lead trail_",
    "digits 123 mixed1 1mixed",
    "a",
    "don't can't it's",  # apostrophe splits
    "semi;colon:and.dots",
]


def reference_tokenize(text: str) -> list[str]:
    # transcription of the reference's two-line tokenizer semantics
    return re.findall(r"\b\w+\b", text.lower())


def test_tokenize_py_matches_reference():
    for c in CASES:
        assert tokenize_py(c) == reference_tokenize(c), c


def test_tokenize_udf_matches_reference(spark):
    df = spark.createDataFrame(pd.DataFrame({"text": CASES}))
    got = df.select(tokenize_udf(F.col("text")).alias("toks")).collect()
    for row, c in zip(got, CASES):
        assert row["toks"] == reference_tokenize(c), c


def test_doc_terms_tf_and_len(spark):
    df = spark.createDataFrame(
        [(0, "a b a c a"), (1, "B b"), (2, ""), (3, "x_y x_y 42nd")],
        "doc_id long, text string",
    )
    rows = doc_terms(df).collect()
    got = {(r.doc_id, r.term): (r.tf, r.doc_len) for r in rows}
    assert got[(0, "a")] == (3, 5)
    assert got[(0, "b")] == (1, 5)
    assert got[(0, "c")] == (1, 5)
    assert got[(1, "b")] == (2, 2)  # lowercased, merged
    assert got[(3, "x_y")] == (2, 3)
    assert got[(3, "42nd")] == (1, 3)
    assert not any(d == 2 for d, _ in got)  # empty doc emits no rows


def test_extract_text_roundtrip(corpus_pdf_small):
    for _, row in corpus_pdf_small.iterrows():
        assert extract_text_py(row["html"]) == row["text"]


def test_extract_text_udf_byte_identical(spark, corpus_small):
    from neural_search_spark.functions.tokenize import extract_text_udf

    bad = corpus_small.select(
        (extract_text_udf(F.col("html")) == F.col("text")).alias("ok")
    ).where(~F.col("ok"))
    assert bad.count() == 0
