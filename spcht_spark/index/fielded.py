"""Multi-field search with per-field boosts (Solr edismax ``qf``).

Solr queries routinely search several fields at once with weights —
``qf=title^2 content^1`` — scoring each field with its OWN statistics
(per-field df, dl, avgdl) and combining per-field scores per doc; the
reference's Solr cores carry exactly such multi-field schemas next to
the q/fq surface it drives (/root/reference/Spcht/Core/WorkOrder.py:693).

Engine shape: one index PER FIELD (same build pipeline, the field's
text as content), so every field keeps honest statistics and its own
posting blocks — Lucene does the same (a term is (field, term)).
Query time runs the standard exact scorer per field (term-pruned block
scan → decode → per-doc score), weights each field's score by its
boost, and combines per doc with a field-ordered deterministic sum
(``score = Σ_f boost_f · BM25_f``, dismax tie=1.0 / BM25F-style
linear combination). Everything stays in the existing distributed
paths; the combine is one groupBy over per-field candidate rows —
candidates, never postings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spcht_spark.index.build import IndexTables, build_index
from spcht_spark.index.query import (
    TOPK_SCHEMA,
    exact_scores,
    plain_rows,
    stats_and_idfs,
    topk,
)


def build_fielded_index(
    spark: SparkSession,
    corpus: DataFrame,
    fields: list[str],
    id_col: str = "doc_id",
    tokenizer: str = "ws",
    shard_span: int | None = None,
) -> dict[str, IndexTables]:
    """One IndexTables per searchable field (Lucene: term = (field,
    term)). At production scale each field's index persists through
    the same work-order ladder as the content index."""
    kwargs = {} if shard_span is None else {"shard_span": shard_span}
    out = {}
    for f in fields:
        fc = corpus.select(
            F.col(id_col).alias("doc_id"), F.col(f).cast("string").alias("content")
        )
        out[f] = build_index(spark, fc, tokenizer=tokenizer, **kwargs)
    return out


def fielded_topk(
    spark: SparkSession,
    indexes: dict[str, IndexTables],
    boosts: dict[str, float],
    queries: list[tuple[str, list[str], int]],
    tie: float = 1.0,
) -> DataFrame:
    """Top-k over the dismax combination of per-field BM25 scores:
    ``score = max_f(boost_f·BM25_f) + tie · Σ_{other f}(boost_f·BM25_f)``
    — Solr/Lucene DisjunctionMaxQuery with tiebreaker. The default
    ``tie=1.0`` is the plain weighted sum (BM25F-style linear
    combination, computed as the field-ordered fold so existing
    results stay bit-identical); ``tie=0`` is pure best-field;
    Solr's usual edismax setting is a small 0 < tie < 1.

    Per-field scoring is the unchanged exact path with that field's
    own stats; the cross-field combine folds (field, weighted score)
    pairs in field-name order so the float sum is deterministic."""
    parts = []
    # candidate docs number at most the fields' doc counts summed: the
    # bound that lets topk skip its salt on small corpora
    n_docs = 0
    for field in sorted(boosts):
        idx = indexes[field]
        all_terms = sorted({t for _, ts, _ in queries for t in ts})
        stats_row, idfs = stats_and_idfs(idx.dictionary, idx.stats, all_terms)
        n_docs += int(stats_row["n_docs"])
        if not idfs:
            continue
        scores = exact_scores(spark, idx.blocks, plain_rows(queries), stats_row, idfs)
        parts.append(
            scores.select(
                "query_id",
                "doc_id",
                F.lit(field).alias("field"),
                (F.col("score") * F.lit(float(boosts[field]))).alias("fscore"),
            )
        )
    if not parts:
        return spark.createDataFrame([], schema=TOPK_SCHEMA)
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    ordered_sum = F.aggregate(
        F.array_sort(F.collect_list(F.struct("field", "fscore"))),
        F.lit(0.0),
        lambda acc, x: acc + x["fscore"],
    )
    if tie == 1.0:
        combined = u.groupBy("query_id", "doc_id").agg(
            ordered_sum.alias("score")
        )
    else:
        combined = (
            u.groupBy("query_id", "doc_id")
            .agg(ordered_sum.alias("s_sum"), F.max("fscore").alias("s_max"))
            .select(
                "query_id",
                "doc_id",
                (
                    F.col("s_max")
                    + F.lit(float(tie)) * (F.col("s_sum") - F.col("s_max"))
                ).alias("score"),
            )
        )
    return topk(combined, {qid: k for qid, _, k in queries}, n_docs=n_docs)
