"""Score explanation and the terms component.

Two small Solr/Lucene request-surface pieces:

* ``explain_scores`` — Lucene's ``Explanation`` / Solr ``debugQuery``:
  for chosen (query, doc) pairs, the per-term BM25 breakdown (tf, dl,
  df, idf, contribution) whose sum IS the engine score. Plan: the
  block scan pruned TWICE — ``term IN (query terms)`` and ``shard IN
  (shards of the requested docs)`` (doc-range sharding makes doc →
  shard a pure function), so explaining k docs decodes only the
  handful of blocks that can contain them.
* ``terms_component`` — Solr TermsComponent (``terms.prefix``): the
  dictionary rows under a prefix ordered by (df desc, term asc) — an
  index-metadata scan, no postings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spcht_spark.index.query import (
    bm25_part_sql,
    decode_blocks,
    sql_double,
    sql_in,
    sql_in_pred,
    sql_map,
    stats_and_idfs,
    topn,
)


def explain_scores(
    spark: SparkSession,
    blocks: DataFrame,
    doclens: DataFrame,
    dictionary: DataFrame,
    stats: DataFrame,
    terms: list[str],
    doc_ids: list[int],
    shard_span: int,
) -> DataFrame:
    """(doc_id, term, tf, dl, df, idf, contrib) for every requested doc
    that contains a requested term. sum(contrib) over a doc's rows is
    bit-identical to the engine's disjunctive score for these terms.
    ``doclens`` is accepted for API symmetry but unused — dl comes off
    the decoded blocks."""
    stats_row, idfs = stats_and_idfs(dictionary, stats, sorted(set(terms)))
    avgdl = float(stats_row["avgdl"])
    if not idfs:
        return spark.createDataFrame(
            [],
            schema="doc_id long, term string, tf long, dl long, "
                   "df long, idf double, contrib double",
        )
    ids = sorted({int(d) for d in doc_ids})
    shards = sorted({d // shard_span for d in ids})
    hit = blocks.where(
        f"term IN ({sql_in(sorted(idfs))}) AND "
        f"{sql_in_pred('shard', (str(s) for s in shards))}"
    )
    postings = decode_blocks(hit).where(
        sql_in_pred("doc_id", (str(i) for i in ids))
    )
    idf_map = sql_map(sorted(idfs.items()), sql_double)
    return (
        postings.join(F.broadcast(dictionary.select("term", "df")), "term")
        .selectExpr("doc_id", "term", "tf", "dl", "df", f"{idf_map}[term] AS idf")
        .selectExpr("*", f"idf * {bm25_part_sql(avgdl)} AS contrib")
    )


def terms_component(
    dictionary: DataFrame,
    prefix: str = "",
    limit: int = 10,
) -> DataFrame:
    """(rank, term, df, cf) — the dictionary under ``prefix`` ordered
    (df desc, term asc), Solr TermsComponent semantics."""
    d = dictionary
    if prefix:
        d = d.filter(F.col("term").startswith(prefix))
    return topn(
        d, [], "df DESC, term ASC", limit, cols=["rank", "term", "df", "cf"]
    )
