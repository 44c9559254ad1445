"""Field collapsing (Solr ``collapse``/``group.field``).

Solr's collapsing post-filter keeps only each group's best-scoring doc
in the result page (one hit per ``source``/site/dedup-key — standard
search-result dedup on the same query surface the reference drives,
/root/reference/Spcht/Core/WorkOrder.py:693). Engine: full exact BM25
candidate scores → one narrow equi-join on doc_id for the collapse
key → per-(query, key) head selection → per-query top-k of the heads.

Scale shape: the head-selection window partitions by (query, key) —
group-sized partitions, millions of them, no hot reducer. The final
top-k over group heads is :func:`spcht_spark.index.query.topn` salted
on the group key. Both windows order by (round(score, 6) desc,
doc_id asc) — the cross-engine determinism contract used everywhere
else (float sums agree to well beyond 6 decimals; the rounding pins
boundary ties identically in Spark and the SQL oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spcht_spark.index.query import exact_scores, plain_rows, stats_and_idfs, topn


def collapse_topk(
    spark: SparkSession,
    blocks: DataFrame,
    doclens: DataFrame,
    dictionary: DataFrame,
    stats: DataFrame,
    attrs: DataFrame,
    group_col: str,
    queries: list[tuple[str, list[str], int]],
) -> DataFrame:
    """(query_id, rank, doc_id, score, grp): top-k groups per query,
    each represented by its best (round(score,6) desc, doc_id asc)
    doc."""
    all_terms = sorted({t for _, ts, _ in queries for t in ts})
    stats_row, idfs = stats_and_idfs(dictionary, stats, all_terms)
    schema = "query_id string, rank int, doc_id long, score double, grp string"
    if not idfs:
        return spark.createDataFrame([], schema=schema)
    scores = exact_scores(spark, blocks, plain_rows(queries), stats_row, idfs)
    j = scores.join(
        attrs.select("doc_id", F.col(group_col).cast("string").alias("grp")),
        "doc_id",
    )
    order = "round(score, 6) DESC, doc_id ASC"
    heads = topn(j, ["query_id", "grp"], order, 1, rank="g_rn",
                 cols=["query_id", "doc_id", "score", "grp"])
    return topn(
        heads, ["query_id"], order, {qid: k for qid, _, k in queries},
        salt="grp", cols=["query_id", "rank", "doc_id", "score", "grp"],
    ).withColumn("score", F.round("score", 4))
