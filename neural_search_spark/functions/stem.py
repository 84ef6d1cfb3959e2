"""Light English stemming (Harman S-stemmer) as an analyzer stage.

The reference tokenizes and matches literally — "tables" never matches a
document that says "table" (``/root/reference/src/neural_search/core/
hybrid.py:49-52``: lowercase + ``\\w+`` only, no morphological folding).
Fulltext engines normalize morphology at analysis time; the conservative
classic is Harman's S-stemmer ("How Effective Is Suffixing?", JASIS 1991),
three ordered suffix rules that fold regular English plurals without the
aggressive over-stemming of Porter:

    1. -ies -> -y    (unless -eies / -aies)         queries -> query
    2. -es  -> -e    (unless -aes / -ees / -oes)    tables  -> table
    3. -s   -> ''    (unless -ss / -us)             keys    -> key

First matching rule wins; words of <= 2 letters (and rule-1 words of <= 3)
pass through. The rules are pure string tests, so the stem runs as a
codegen Column expression (JVM-side, zero Python in the fold), with
bit-identical Python and SQL mirrors for the serving replica and the
DuckDB oracle. Only the Column mirror imports pyspark, so the replica folds
query terms without it.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import Column


def s_stem_py(term: str) -> str:
    """Python mirror (serving replica / query-side prep / tests).

    The first matching suffix FAMILY (-ies / -es / -s) claims the word; an
    exception or length guard inside the family returns the word unchanged
    rather than falling through (otherwise "trees" would dodge the -ees
    protection and lose its -s to rule 3, making the exceptions dead
    letters)."""
    if term.endswith("ies"):
        if len(term) > 3 and not term.endswith(("eies", "aies")):
            return term[:-3] + "y"
        return term
    if term.endswith("es"):
        if len(term) > 2 and not term.endswith(("aes", "ees", "oes")):
            return term[:-1]
        return term
    if term.endswith("s"):
        if len(term) > 2 and not term.endswith(("ss", "us")):
            return term[:-1]
        return term
    return term


def s_stem_col(term: Column) -> Column:
    """Column-expression S-stemmer: whole-stage-codegen string ops only."""
    from pyspark.sql import functions as F

    n = F.length(term)
    drop_s = term.substr(F.lit(1), n - 1)
    return (
        F.when(
            term.endswith("ies"),
            F.when(
                (n > 3) & ~term.endswith("eies") & ~term.endswith("aies"),
                F.concat(term.substr(F.lit(1), n - 3), F.lit("y")),
            ).otherwise(term),
        )
        .when(
            term.endswith("es"),
            F.when(
                (n > 2)
                & ~term.endswith("aes")
                & ~term.endswith("ees")
                & ~term.endswith("oes"),
                drop_s,
            ).otherwise(term),
        )
        .when(
            term.endswith("s"),
            F.when(
                (n > 2) & ~term.endswith("ss") & ~term.endswith("us"), drop_s
            ).otherwise(term),
        )
        .otherwise(term)
    )


def s_stem_sql(expr: str) -> str:
    """DuckDB/ANSI SQL mirror over a term expression (oracle side)."""
    return f"""CASE
  WHEN {expr} LIKE '%ies' THEN
    CASE WHEN length({expr}) > 3
              AND {expr} NOT LIKE '%eies' AND {expr} NOT LIKE '%aies'
         THEN substr({expr}, 1, length({expr}) - 3) || 'y' ELSE {expr} END
  WHEN {expr} LIKE '%es' THEN
    CASE WHEN length({expr}) > 2 AND {expr} NOT LIKE '%aes'
              AND {expr} NOT LIKE '%ees' AND {expr} NOT LIKE '%oes'
         THEN substr({expr}, 1, length({expr}) - 1) ELSE {expr} END
  WHEN {expr} LIKE '%s' THEN
    CASE WHEN length({expr}) > 2
              AND {expr} NOT LIKE '%ss' AND {expr} NOT LIKE '%us'
         THEN substr({expr}, 1, length({expr}) - 1) ELSE {expr} END
  ELSE {expr}
END"""
