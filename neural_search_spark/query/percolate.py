"""Percolation: reverse search — match a registered query set against docs.

The reference only searches docs by ad-hoc queries
(``/root/reference/src/neural_search/api/search.py:21-135``); the percolator
is the fulltext-index inverse (Elasticsearch percolate query): store the
queries, stream the documents, emit (doc, query) match pairs — the shape
behind alerting, saved searches, and routing webtext to topic feeds.

Match semantics per registered boolean query (Lucene BooleanQuery over the
``+must -must_not should`` clause table from ``boolean.parse_bool_query``):

* every must term present,
* no must_not term present,
* if the query has NO must clause, at least one should term present
  (Lucene's implicit minimum_should_match=1 for pure-should queries).

Spark-first shape: the registered-query clause table is tiny and broadcasts
into one join against doc_terms; all three conditions reduce on the same
(query_id, doc_id) aggregation grain — one shuffle for the entire corpus x
query-set product, no per-query loop. Registered queries scale past
broadcast size by bucketing the clause table on term, but a percolator set
is query-cardinality (thousands), so broadcast is the right default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..index.stats import BM25Index


def registered_clause_arrays(spark, queries: list[tuple[int, str]]) -> DataFrame:
    """(query_id, must, must_not, should): one row per registered query,
    clause terms as sorted distinct arrays — the broadcast-friendly form the
    stateless evaluator consumes."""
    from .boolean import parse_bool_query

    rows = []
    for qid, text in queries:
        by_clause: dict[str, set] = {"must": set(), "must_not": set(), "should": set()}
        for clause, term in parse_bool_query(text):
            by_clause[clause].add(term)
        rows.append(
            (
                qid,
                sorted(by_clause["must"]),
                sorted(by_clause["must_not"]),
                sorted(by_clause["should"]),
            )
        )
    return spark.createDataFrame(
        rows,
        "query_id int, must array<string>, must_not array<string>, "
        "should array<string>",
    )


def percolate_stateless(
    docs: DataFrame,
    registered: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, query_id) matches, evaluated PER ROW with array expressions —
    no aggregation, no shuffle beyond the broadcast: each doc row crosses
    the (tiny) registered set and three codegen'd array predicates decide
    the match. Because the plan is stateless, it runs unchanged under
    Structured Streaming in append mode (the alerting shape: readStream of
    docs -> matched saved searches -> sink), where the grouped ``percolate``
    form would need an aggregation state store.

    Same match semantics as ``percolate`` (equivalence pinned in tests):
    every must term present, no must_not term, >=1 should term when the
    query has no must clause.
    """
    from ..functions.tokenize import tokenize_udf

    terms = F.array_distinct(tokenize_udf(F.col(text_col)))
    base = docs.select(F.col(id_col).alias("doc_id"), terms.alias("_terms"))
    joined = base.crossJoin(F.broadcast(registered))
    has = lambda t: F.array_contains(F.col("_terms"), t)  # noqa: E731
    ok_must = F.forall("must", has)
    ok_not = ~F.exists("must_not", has)
    ok_should = (F.size("must") > 0) | F.exists("should", has)
    return joined.where(ok_must & ok_not & ok_should).select("doc_id", "query_id")


class PercolateMatcher:
    """Serving-tier percolator: match ONE incoming doc against the
    registered query set with no Spark in the loop (the ES single-doc
    ``percolate`` API shape — alerting at ingest time). Same match
    semantics as ``percolate``/``percolate_stateless``; equivalence is
    pinned in tests/test_rescore.py.
    """

    def __init__(self, queries: list[tuple[int, str]]):
        from .boolean import parse_bool_query

        self.compiled: list[tuple[int, frozenset, frozenset, frozenset]] = []
        for qid, text in queries:
            by: dict[str, set] = {"must": set(), "must_not": set(), "should": set()}
            for clause, term in parse_bool_query(text):
                by[clause].add(term)
            self.compiled.append(
                (
                    qid,
                    frozenset(by["must"]),
                    frozenset(by["must_not"]),
                    frozenset(by["should"]),
                )
            )

    @classmethod
    def from_jsonl(cls, path: str) -> "PercolateMatcher":
        """Lines of {"query_id": int, "query": "+must -not should"}."""
        import json

        queries = []
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                rec = json.loads(line)
                queries.append((int(rec["query_id"]), str(rec["query"])))
        return cls(queries)

    def match(self, text: str) -> list[int]:
        """query_ids (ascending) whose saved search matches this doc."""
        from ..functions.tokens import tokenize_py

        terms = set(tokenize_py(text))
        return sorted(
            qid
            for qid, must, must_not, should in self.compiled
            if must <= terms
            and not (must_not & terms)
            and (must or (should & terms))
        )


def registered_queries_df(spark, queries: list[tuple[int, str]]) -> DataFrame:
    """(query_id, clause, term) clause table from [(query_id, text)].

    Distinct per (query, clause, term): percolation is boolean — repeated
    occurrences in the registered text don't change the match.
    """
    from .boolean import parse_bool_query

    rows = sorted(
        {
            (qid, clause, term)
            for qid, text in queries
            for clause, term in parse_bool_query(text)
        }
    )
    return spark.createDataFrame(rows, "query_id int, clause string, term string")


def percolate(
    index: BM25Index,
    registered: DataFrame,
) -> DataFrame:
    """(doc_id, query_id) pairs: which registered queries match each doc.

    ``registered`` is the (query_id, clause, term) clause table
    (``registered_queries_df``). One broadcast join + one groupBy decides
    every clause count; the per-query requirement row (n_must, n_should>0)
    joins broadcast on query_id.
    """
    req = registered.groupBy("query_id").agg(
        F.count_distinct(F.when(F.col("clause") == "must", F.col("term"))).alias(
            "n_must"
        ),
        F.count_distinct(F.when(F.col("clause") == "should", F.col("term"))).alias(
            "n_should_total"
        ),
    )
    matched = index.doc_terms.select("doc_id", "term").join(
        F.broadcast(registered), "term"
    )
    counts = matched.groupBy("query_id", "doc_id").agg(
        F.count_distinct(F.when(F.col("clause") == "must", F.col("term"))).alias(
            "n_have_must"
        ),
        F.count_distinct(F.when(F.col("clause") == "should", F.col("term"))).alias(
            "n_have_should"
        ),
        F.max(F.when(F.col("clause") == "must_not", F.lit(True))).alias("any_not"),
    )
    return (
        counts.join(F.broadcast(req), "query_id")
        .where(
            (F.col("n_have_must") == F.col("n_must"))
            & F.coalesce(~F.col("any_not"), F.lit(True))
            & ((F.col("n_must") > 0) | (F.col("n_have_should") >= 1))
        )
        .select("doc_id", "query_id")
    )
