"""More-like-this: find docs similar to a seed doc (Solr MLT parity).

Solr's MoreLikeThis handler — part of the query surface next to q/fq
(the reference's Solr exposes it on the same cores it queries via
/root/reference/Spcht/Core/WorkOrder.py:693) — rewrites a seed doc into
a weighted term query: pick the doc's most "interesting" terms by
tf·idf, then run them as a disjunctive query excluding the seed itself.

Engine shape:

* Seed term vectors come from the doc store (the forward table — the
  inverted index cannot answer doc→terms; Solr reads term vectors or
  stored fields the same way). |seeds| is query-sized, so the vectors
  are collected driver-side — bounded by seed doc length, exactly like
  collecting the query terms' df. The query REWRITE is driver work;
  the query EXECUTION stays distributed.
* Interesting terms: top ``max_terms`` by tf·idf (BM25 idf), ordered
  (round(w, 6) desc, term asc) so engine and SQL oracle agree on
  boundary ties — same determinism trick as result ranking.
* Execution: the standard exact BM25 path over the posting blocks with
  the rewritten queries; the seed doc is filtered out of its own
  result before the final rank (Solr MLT never returns the seed).
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spcht_spark.index.query import exact_topk, sql_in, sql_in_pred, stats_and_idfs, topn
from spcht_spark.oracle import idf as idf_py
from spcht_spark.oracle import tokenize_py


def _ranked_weights(
    doc_store: DataFrame,
    dictionary: DataFrame,
    stats_row,
    seed_ids: list[int],
    max_terms: int,
    mode: str,
    id_col: str,
    content_col: str,
) -> dict[int, list[tuple[float, str]]]:
    """Per found seed, its top ``max_terms`` (weight, term) pairs, weight
    tf·idf rounded to 6 places, ordered (weight desc, term asc); a seed
    with no indexed term gets an empty list."""
    rows = (
        doc_store.where(
            sql_in_pred(f"`{id_col}`", (str(int(s)) for s in seed_ids))
        )
        .selectExpr(f"`{id_col}` AS doc_id", f"`{content_col}` AS content")
        .collect()
    )
    n_docs = int(stats_row["n_docs"])
    tfs: dict[int, Counter] = {}
    for r in rows:
        toks = (
            [t for t in r["content"].split(" ") if t]
            if mode == "ws"
            else tokenize_py(r["content"])
        )
        tfs[int(r["doc_id"])] = Counter(toks)
    all_terms = sorted({t for c in tfs.values() for t in c})
    dfs = {
        r["term"]: int(r["df"])
        for r in dictionary.where(f"term IN ({sql_in(all_terms)})")
        .select("term", "df")
        .collect()
    } if all_terms else {}
    out: dict[int, list[tuple[float, str]]] = {}
    for seed, c in tfs.items():
        ws = [
            (round(c[t] * idf_py(n_docs, dfs[t]), 6), t)
            for t in c
            if t in dfs and dfs[t] > 0
        ]
        ws.sort(key=lambda x: (-x[0], x[1]))
        out[seed] = ws[:max_terms]
    return out


def interesting_terms(
    doc_store: DataFrame,
    dictionary: DataFrame,
    stats_row,
    seed_ids: list[int],
    max_terms: int = 8,
    mode: str = "ws",
    id_col: str = "doc_id",
    content_col: str = "content",
) -> dict[int, list[str]]:
    """Per-seed interesting-term list (the MLT query rewrite).

    Tokenization matches the index build (``mode='ws'`` single-space
    split / ``'arrow'`` code-token regex)."""
    ranked = _ranked_weights(
        doc_store, dictionary, stats_row, seed_ids, max_terms, mode, id_col, content_col
    )
    return {seed: [t for _, t in ws] for seed, ws in ranked.items()}


def interesting_terms_detail(
    doc_store: DataFrame,
    dictionary: DataFrame,
    stats_row,
    seed_ids: list[int],
    max_terms: int = 8,
    mode: str = "ws",
    id_col: str = "doc_id",
    content_col: str = "content",
) -> list[tuple[str, int, str, float]]:
    """``mlt.interestingTerms=details``: the (query_id, rank, term,
    weight) rows behind each seed's MLT rewrite — weight = tf·idf
    exactly as :func:`interesting_terms` ranks them (Solr returns the
    chosen terms with their boosts when details is requested)."""
    ranked = _ranked_weights(
        doc_store, dictionary, stats_row, seed_ids, max_terms, mode, id_col, content_col
    )
    return [
        (f"mlt_{seed}", i, t, wt)
        for seed in sorted(ranked)
        for i, (wt, t) in enumerate(ranked[seed], 1)
    ]


def mlt_topk(
    spark: SparkSession,
    blocks: DataFrame,
    doclens: DataFrame,
    dictionary: DataFrame,
    stats: DataFrame,
    doc_store: DataFrame,
    seed_ids: list[int],
    k: int = 10,
    max_terms: int = 8,
    mode: str = "ws",
    id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    """(query_id='mlt_<seed>', rank, doc_id, score) — top-k docs most
    similar to each seed, seed excluded."""
    stats_row, _ = stats_and_idfs(dictionary, stats, [])
    terms = interesting_terms(
        doc_store, dictionary, stats_row, seed_ids,
        max_terms=max_terms, mode=mode, id_col=id_col, content_col=content_col,
    )
    queries = [
        (f"mlt_{seed}", ts, k + 1)  # +1: the seed itself ranks somewhere
        for seed, ts in sorted(terms.items())
        if ts
    ]
    if not queries:
        from spcht_spark.index.query import TOPK_SCHEMA

        return spark.createDataFrame([], schema=TOPK_SCHEMA)
    out = exact_topk(spark, blocks, doclens, dictionary, stats, queries)
    seed_pred = F.lit(False)
    for seed in seed_ids:
        seed_pred = seed_pred | (
            (F.col("query_id") == f"mlt_{int(seed)}")
            & (F.col("doc_id") == int(seed))
        )
    return topn(
        out.filter(~seed_pred), ["query_id"], "score DESC, doc_id ASC", k,
        cols=["query_id", "rank", "doc_id", "score"],
    )
