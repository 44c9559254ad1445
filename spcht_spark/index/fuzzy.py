"""Fuzzy term queries (``term~1`` / ``term~2``) via dictionary expansion.

Lucene answers ``roam~2`` by walking the term dictionary with a
Levenshtein automaton and rewriting to a scoring boolean over the
matching terms — part of the free-form ``q`` surface the reference
submits to its Solr cores (/root/reference/Spcht/Core/WorkOrder.py:693).
This is the SCORING_BOOLEAN rewrite over the block index, sharing the
spellcheck machinery's pruned dictionary scan
(spcht_spark.index.suggest) and the prefix module's expansion contract
(spcht_spark.index.prefix):

* Candidate pruning: ``abs(len(term) - len(q)) <= max_distance`` — a
  necessary condition for the edit distance, pure Catalyst on the small
  dictionary table; then the JVM ``levenshtein`` built-in (no Python).
* Expansion is capped like Lucene ``maxExpansions`` (default 50): the
  top terms by (distance asc, df desc, term asc) — distance-first, so
  the exact term (distance 0, Lucene fuzzy matches the term itself)
  and near misses always survive the cap. Deterministic → a SQL oracle
  lands on the same expansion set.
* The expanded term list is query-sized metadata; execution is the
  unchanged distributed exact BM25 path over the posting blocks.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spcht_spark.index.query import exact_topk, topn, values_df

_FUZZY_RE = re.compile(r"^(.+?)~([012])$")

DEFAULT_MAX_EXPANSIONS = 50


def parse_fuzzy(qterm: str) -> tuple[str, int]:
    """``'roam~2'`` → ('roam', 2). A bare term is distance 0 (exact)."""
    m = _FUZZY_RE.match(qterm)
    if not m:
        return qterm, 0
    return m.group(1), int(m.group(2))


def expand_fuzzy(
    dictionary: DataFrame,
    qterms: list[str],
    max_expansions: int = DEFAULT_MAX_EXPANSIONS,
) -> dict[str, list[str]]:
    """qterm (``term~d`` syntax) → its expansion set, one pruned
    dictionary pass for ALL query terms (broadcast literal join, like
    suggest); distance-0 inputs pass through without a scan."""
    spark = dictionary.sparkSession
    fuzzy = {}
    out: dict[str, list[str]] = {}
    for qt in qterms:
        base, dist = parse_fuzzy(qt)
        if dist == 0:
            out[qt] = [base]
        else:
            fuzzy[qt] = (base, dist)
    if not fuzzy:
        return out
    q = values_df(
        spark,
        [(qt, base, dist) for qt, (base, dist) in sorted(fuzzy.items())],
        ["qterm", "base", "dist"],
    )
    cand = (
        dictionary.select("term", "df")
        .crossJoin(F.broadcast(q))
        .filter(F.abs(F.length("term") - F.length("base")) <= F.col("dist"))
        .withColumn("distance", F.levenshtein("term", "base"))
        .filter(F.col("distance") <= F.col("dist"))
    )
    rows = topn(
        cand, ["qterm"], "distance ASC, df DESC, term ASC", max_expansions,
        rank="rn",
    ).select("qterm", "term", "rn").collect()
    for qt in fuzzy:
        out[qt] = []
    for r in sorted(rows, key=lambda r: (r["qterm"], r["rn"])):
        out[r["qterm"]].append(r["term"])
    return out


def fuzzy_topk(
    spark: SparkSession,
    blocks: DataFrame,
    doclens: DataFrame,
    dictionary: DataFrame,
    stats: DataFrame,
    queries: list[tuple[str, str, int]],
    max_expansions: int = DEFAULT_MAX_EXPANSIONS,
) -> DataFrame:
    """Top-k for ``(query_id, 'term~d', k)`` fuzzy queries: each query
    string is ONE fuzzy term (multi-term fuzzy queries compose through
    the boolean surface); expansion scores as a disjunctive BM25 query
    through the unchanged exact path."""
    qterms = sorted({qs for _, qs, _ in queries})
    expansions = expand_fuzzy(dictionary, qterms, max_expansions)
    live = [
        (qid, expansions[qs], k) for qid, qs, k in queries if expansions.get(qs)
    ]
    if not live:
        from spcht_spark.index.query import TOPK_SCHEMA

        return spark.createDataFrame([], schema=TOPK_SCHEMA)
    return exact_topk(spark, blocks, doclens, dictionary, stats, live)
