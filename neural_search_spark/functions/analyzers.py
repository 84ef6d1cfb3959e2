"""Index-time analyzer registry for the physical index.

Real engines bind the analyzer to the index (Lucene: the analysis chain is
part of the field's index-time configuration; querying with a different
analyzer silently breaks matching). The physical index here does the same:
``build_index(analyzer=...)`` folds the token stream at build time, records
the analyzer name in ``corpus_stats``, and every query surface (WAND, the
serving replica, maintenance deltas) reads that name back and applies the
SAME fold to query tokens — the caller can't desynchronize the two sides.

An analyzer is a pure per-term fold (term -> term), registered as a
(python_fn, column_fn) pair: the Column form runs in whole-stage codegen on
the cluster side, the Python form serves the replica and driver-side query
prep. Token counts are invariant under a per-term fold, so doc_len / avgdl
never change — only the term space (and therefore df/idf) does. pyspark is
imported only by the Column forms, so the replica's ``analyze_tokens`` runs
without it.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from .stem import s_stem_col, s_stem_py

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

# ASCII folding (the Lucene ASCIIFoldingFilter analog, 1:1 subset): strip
# Latin diacritics so "café" and "cafe" share one posting group. The table
# is an explicit char map applied via translate() in BOTH mirrors — same
# codepoints by construction, no locale/unicodedata dependence. Terms are
# already lowercased by the reference tokenizer, so only lowercase source
# chars appear. 1:n foldings (ae <- æ, ss <- ß) are out of scope for a
# per-char translate and left unfolded (documented deviation from Lucene).
_FOLD_SRC = "àáâãäåçèéêëìíîïñòóôõöøùúûüýÿ"
_FOLD_DST = "aaaaaa" + "c" + "eeee" + "iiii" + "n" + "oooooo" + "uuuu" + "yy"
assert len(_FOLD_SRC) == len(_FOLD_DST)
_FOLD_TABLE = str.maketrans(_FOLD_SRC, _FOLD_DST)


def ascii_fold_py(term: str) -> str:
    return term.translate(_FOLD_TABLE)


def ascii_fold_col(term):
    from pyspark.sql import functions as F

    return F.translate(term, _FOLD_SRC, _FOLD_DST)


# name -> (python mirror, Column mirror). "" / None = identity (no analysis
# beyond the reference tokenizer).
ANALYZERS = {
    "stem": (s_stem_py, s_stem_col),
    "asciifold": (ascii_fold_py, ascii_fold_col),
    # composed chain: fold diacritics first, then stem — analysis stages
    # compose like Lucene token-filter chains (order matters and is fixed
    # by the registered name, so index and query sides can't disagree)
    "asciifold_stem": (
        lambda t: s_stem_py(ascii_fold_py(t)),
        lambda c: s_stem_col(ascii_fold_col(c)),
    ),
}


def resolve_analyzer(name: str | None) -> str:
    """Normalize + validate an analyzer name ('' = identity)."""
    if not name:
        return ""
    if name not in ANALYZERS:
        raise ValueError(
            f"unknown analyzer {name!r}; available: {sorted(ANALYZERS)}"
        )
    return name


def analyze_tokens(tokens: list[str], analyzer: str | None) -> list[str]:
    """Python-side fold of a token list (query prep, serving replica)."""
    name = resolve_analyzer(analyzer)
    if not name:
        return list(tokens)
    py = ANALYZERS[name][0]
    return [py(t) for t in tokens]


def fold_doc_terms(doc_terms: DataFrame, analyzer: str | None) -> DataFrame:
    """Fold a (doc_id, term, tf, doc_len) relation through the analyzer.

    Variant tfs sum into the folded term's group; rows stay unique per
    (doc_id, term) so the count(*)-is-df invariant of ``term_stats`` holds.
    Identity analyzer returns the input unchanged (no extra shuffle).
    """
    from pyspark.sql import functions as F

    name = resolve_analyzer(analyzer)
    if not name:
        return doc_terms
    col_fn = ANALYZERS[name][1]
    return (
        doc_terms.select(
            "doc_id", col_fn(F.col("term")).alias("term"), "tf", "doc_len"
        )
        .groupBy("doc_id", "term")
        .agg(F.sum("tf").alias("tf"), F.first("doc_len").alias("doc_len"))
    )


def fold_doc_term_positions(dtp: DataFrame, analyzer: str | None) -> DataFrame:
    """Positional variant: fold (doc_id, term, positions, doc_len).

    Variants' position lists merge into one sorted list (positions are
    disjoint — each token occupies one slot — so the merged list stays
    strictly increasing and duplicate-free)."""
    from pyspark.sql import functions as F

    name = resolve_analyzer(analyzer)
    if not name:
        return dtp
    col_fn = ANALYZERS[name][1]
    return (
        dtp.select(
            "doc_id", col_fn(F.col("term")).alias("term"), "positions", "doc_len"
        )
        .groupBy("doc_id", "term")
        .agg(
            F.array_sort(F.flatten(F.collect_list("positions"))).alias("positions"),
            F.first("doc_len").alias("doc_len"),
        )
    )
