"""Solr join query parser — ``{!join from=F to=T}<child query>``.

Reference parity: the reference's Solr core answers join filter
queries (standard JoinQParserPlugin; the reference submits raw `fq`
strings verbatim, `Spcht/Core/WorkOrder.py:702-707`, so any Solr
install it points at supports this surface).  Semantics: evaluate the
child query against the child table, project its ``from`` field
values, and keep main-query documents whose ``to`` field holds one of
those values — an EXISTS semi-join, never a fan-out (a doc matched by
ten child rows appears once).

Spark-first shape: child predicate → ``select(from).distinct()`` →
``leftsemi`` join against the doc attributes on ``to``.  The distinct
collapses the child side to its value domain BEFORE the shuffle — at
100 TB the child query may match billions of rows but the value
domain (e.g. crawl sources) is orders smaller, and AQE broadcasts it
when it fits.  The result is a (doc_id) frame, pluggable as
``doc_filter`` into every ranked path (WAND stays pruned through its
shard-span bitmap path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spcht_spark.index.boolean import ast_to_spark_sql, parse_filter_query
from spcht_spark.index.query import topn

__all__ = ["child_topk", "join_docs", "parent_topk"]


def join_docs(
    child: DataFrame,
    from_col: str,
    to: DataFrame,
    to_col: str,
    child_fq: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """``{!join from=from_col to=to_col}child_fq`` → (doc_id) filter.

    ``child``: the child table (may be the doc attributes themselves —
    Solr same-core join).  ``child_fq``: a metadata filter-query
    string in the engine's fq language (``lang:de``, ranges, AND/OR/
    NOT).  ``to``: the doc attribute table carrying ``to_col`` and
    ``id_col``.
    """
    values = (
        child.where(ast_to_spark_sql(parse_filter_query(child_fq)))
        .select(F.col(from_col).alias("_jv"))
        .distinct()
    )
    # ``to`` is a doc-attribute table: unique on id_col by contract
    # (same assumption as fq_filter), and leftsemi preserves that — no
    # distinct, no extra shuffle.
    return to.join(values, to[to_col] == values._jv, "leftsemi").select(
        F.col(id_col).alias("doc_id")
    )


def parent_topk(
    scored_children: DataFrame,
    attrs: DataFrame,
    parent_col: str,
    ks: dict[str, int],
) -> DataFrame:
    """Block-join parent query — Lucene ToParentBlockJoinQuery /
    Solr ``{!parent which=...}childQuery`` with ``score=max``: rank
    PARENT entities by the best score among their children that match
    the child query, carrying the matching-children count.

    Lucene requires parents and children co-located in one index block
    and walks a parent bitset; that layout exists to make the
    child→parent hop cheap on one machine.  The Spark-first equivalent
    keeps the child→parent mapping as a doc attribute (``parent_col``
    — e.g. repo for files, crawl host for pages) and makes the hop a
    narrow candidates⋈attrs join + partial-agg groupBy: max/count
    combine map-side, so a parent with a billion matching children
    ships one row per map task, not a billion (no Lucene-style
    co-location constraint on the layout at all).

    ``scored_children``: (query_id, doc_id, score) from any ranked
    path (exact/WAND/boolean — composes with the full q language).
    Returns (query_id, rank, parent, score, n_children) with the
    engine-wide determinism contract (round(score,6) desc, parent asc),
    ranked by :func:`spcht_spark.index.query.topn` salted on parent.
    """
    j = scored_children.select("query_id", "doc_id", "score").join(
        attrs.select(
            "doc_id", F.col(parent_col).cast("string").alias("parent")
        ),
        "doc_id",
    )
    per_parent = j.groupBy("query_id", "parent").agg(
        F.max("score").alias("score"),
        F.count(F.lit(1)).alias("n_children"),
    )
    return topn(
        per_parent, ["query_id"], "round(score, 6) DESC, parent ASC", ks,
        salt="parent", cols=["query_id", "rank", "parent", "score", "n_children"],
    )


def child_topk(
    scored_children: DataFrame,
    attrs: DataFrame,
    parent_col: str,
    ks: dict[str, int],
    parent_ks: dict[str, int] | None = None,
) -> DataFrame:
    """Block-join child query — Lucene ToChildBlockJoinQuery / Solr
    ``{!child of=...}parentQuery``: return the CHILD documents of the
    parents matched by the parent query, every child carrying its
    parent's score (Lucene's contract: child hits score as their
    parent).

    Composes with :func:`parent_topk`: the parent query ranks parent
    entities (score=max over its matching children); the child query
    then expands each surviving parent to ALL its member docs.  Spark
    shape: the ranked-parents frame is k-sized, so the expansion is a
    broadcast join against the doc-attribute table — one narrow scan,
    no shuffle of the attrs side, no per-parent driver loop.  Children
    rank by (parent score desc, parent asc, doc_id asc) through
    :func:`spcht_spark.index.query.topn`; ``ks`` caps the page per
    query.

    Reference capability: the Solr block-join surface behind the
    reference's raw `q`/`fq` strings (WorkOrder.py:702-707); Lucene
    semantics per ToChildBlockJoinQuery (parent score propagates).
    """
    parents = parent_topk(
        scored_children, attrs, parent_col, parent_ks or ks
    ).select("query_id", "parent", "score")
    kids = attrs.select(
        "doc_id", F.col(parent_col).cast("string").alias("parent")
    ).join(F.broadcast(parents), "parent")
    # salted on doc_id (engine-wide top-k discipline): a single parent
    # may hold billions of children — the global window only ever sees
    # ≤ 64·k pre-ranked rows per query, never the full expansion
    return topn(
        kids, ["query_id"], "round(score, 6) DESC, parent ASC, doc_id ASC",
        ks, salt="doc_id", cols=["query_id", "rank", "doc_id", "parent", "score"],
    )
