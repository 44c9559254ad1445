"""Percolator — standing queries evaluated per incoming document.

The inverse of search: instead of a query scanning an index of
documents, each arriving document is tested against a registered set
of boolean queries (Elasticsearch's percolate API; Solr users emulate
it client-side over the same `q` language the reference submits,
/root/reference/Spcht/Core/WorkOrder.py:693-707). It is the routing
primitive of a training-data pipeline: tag/route incoming docs by
standing predicates ("contains PII-ish terms", "lang:de AND NOT
boilerplate") without ever building postings for them.

Spark-first shape — NO index, NO shuffle, NO per-row Python:

* every standing query parses once on the driver (the same
  ``parse_query`` AST the retrieval engine executes, so the dialect is
  identical — terms, AND/OR/NOT, ``+``/``-`` markers, attr clauses
  against the doc's own columns);
* the document's distinct token set is built in-row
  (``array_distinct(split(...))``, folded by the analyzer chain's SQL
  form :func:`~spcht_spark.index.analyze.fold_token_sql`) and each AST
  renders to a SQL predicate over it via
  :func:`~spcht_spark.index.boolean.ast_to_spark_sql` — the WHOLE query
  set is one codegen'd projection per doc batch;
* matches emit as (doc_id, query_id) through one array build +
  ``explode`` — a doc matching nothing costs one skipped row.

Because evaluation is per-document, pure-negative queries (``NOT x``)
are legal here (``require_positive=False``): percolation has the doc
in hand and does not retrieve from postings. For the same reason fuzzy
(``retrn~1``) and wildcard (``ret*``) clauses match against the doc's
own terms instead of a dictionary expansion: ``base~d`` holds iff some
term is within Levenshtein distance d of ``base`` (insert, delete,
substitute; the JVM ``levenshtein`` the index's fuzzy expansion also
uses, so a swap costs 2), a wildcard iff some term matches the whole
pattern — with no ``max_expansions`` cap.

At 10^12 docs/day this is exactly a streaming map: the same function
applied inside ``foreachBatch`` (or directly on a streaming frame —
it is a stateless projection) percolates each micro-batch;
:func:`percolate_stream` wires that and
``tests/test_index_stream.py`` pins batch ≡ stream equivalence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spcht_spark.functions.dedup import tokens_col
from spcht_spark.index.analyze import content_steps, fold_token_sql
from spcht_spark.index.boolean import ast_to_spark_sql, parse_query
from spcht_spark.index.query import sql_str

__all__ = ["percolate", "percolate_stream"]

_TERMS = "__percolate_terms"


def _with_doc_terms(docs: DataFrame, text_col: str, analyzer: str | None):
    """``docs`` plus the distinct analyzed token array as ``_TERMS``."""
    docs = docs.withColumn(_TERMS, tokens_col(text_col))
    terms = _TERMS
    if analyzer is not None:
        t = "lower(t)" if "lowercase" in content_steps(analyzer) else "t"
        terms = (
            f"filter(transform({_TERMS}, t -> {fold_token_sql(t, analyzer)}), "
            "t -> t IS NOT NULL)"
        )
    return docs.withColumn(_TERMS, F.expr(f"array_distinct({terms})"))


def percolate(
    docs: DataFrame,
    queries: list[tuple[str, str]],
    text_col: str = "content",
    id_col: str = "doc_id",
    analyzer: str | None = None,
) -> DataFrame:
    """(doc_id, query_id) — every standing query each document
    satisfies. ``queries``: (query_id, boolean q string) pairs, full
    engine dialect; attr clauses (``lang:en``) evaluate against the
    document's own columns. The doc's tokens fold through the SAME
    analyzer chain as the queries (one chain, both sides — the
    build==parse discipline of the index applies here too)."""
    parsed = [
        (qid, parse_query(qs, analyzer, require_positive=False))
        for qid, qs in queries
    ]
    hits = "array_compact(array(" + ", ".join(
        f"CASE WHEN {ast_to_spark_sql(ast, _TERMS)} THEN {sql_str(qid)} END"
        for qid, ast in parsed
    ) + "))"
    return _with_doc_terms(docs, text_col, analyzer).select(
        F.col(id_col).alias("doc_id"), F.explode(F.expr(hits)).alias("query_id")
    )


def percolate_stream(
    stream: DataFrame,
    queries: list[tuple[str, str]],
    text_col: str = "content",
    id_col: str = "doc_id",
    analyzer: str | None = None,
):
    """The same projection on a streaming DataFrame — percolation is
    stateless, so it needs no foreachBatch, no watermark, no state
    store: the returned frame is a valid streaming source for any
    sink (append mode). Batch/stream equivalence is structural (one
    shared code path), pinned in tests/test_index_stream.py."""
    return percolate(stream, queries, text_col, id_col, analyzer)
