"""Solr TermVectorComponent (`tv=true`): per-document term statistics
for the docs of a result page.

Solr returns, for each requested doc and term: tf, df, and tf-idf
(computed as tf/df — TermVectorComponent semantics, not the BM25 idf).
Lucene serves this from stored term vectors when the field has
`termVectors="true"`, else by re-analyzing the stored field (the
"uninverting" fallback). The Spark-first design is the fallback made
first-class and scale-correct:

* the page's docs (k of them — a bounded page, never the corpus) are
  re-tokenized from the doc store with the SAME tokenizer/analyzer the
  index was built with, giving exact tf;
* df joins from the dictionary — the page's (doc, term) frame is tiny
  and broadcast, so the dictionary (the big side) is probed without a
  shuffle and its scan is pruned to the page's terms.

This never decodes postings: term vectors for k docs cost O(k · doclen)
regardless of corpus size — the property that matters at 10^12 docs,
where "scan the shard's blocks for one doc's terms" would touch every
posting the shard holds.

Reference surface: the Solr cores Spcht queries
(/root/reference/Spcht/Core/WorkOrder.py:693) expose /tv on the same
schema; the reference itself never rebuilds it — upstream Solr does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spcht_spark.index.query import sql_in_pred
from spcht_spark.index.tokenize import tokens


def term_vectors(
    spark: SparkSession,
    doc_store: DataFrame,
    dictionary: DataFrame,
    doc_ids: list[int],
    tokenizer: str = "ws",
    analyzer: str | None = None,
) -> DataFrame:
    """(doc_id, term, tf, df, tf_idf) for every term of every requested
    doc. ``doc_store`` must carry (doc_id, content) — the stored-field
    table. ``tokenizer``/``analyzer`` MUST match the index build (the
    manifest records both) or tf disagrees with the postings.

    tf_idf = tf / df, Solr TermVectorComponent's definition."""
    ids = sorted({int(d) for d in doc_ids})
    docs = doc_store.select("doc_id", "content").where(
        sql_in_pred("doc_id", (str(i) for i in ids))
    )
    toks = tokens(docs, tokenizer, analyzer).select(
        "doc_id", "term", "tf"
    )
    # Page frame is k docs → broadcast; dictionary scan prunes to the
    # page's terms via the join's dynamic filter (and stays shuffle-free).
    out = dictionary.select("term", "df").join(F.broadcast(toks), "term")
    return out.select(
        "doc_id",
        "term",
        "tf",
        "df",
        (F.col("tf").cast("double") / F.col("df")).alias("tf_idf"),
    )
