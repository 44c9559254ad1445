"""Prefix (wildcard ``term*``) queries via dictionary expansion.

Solr/Lucene answer ``handler*`` by expanding the pattern against the
term dictionary and rewriting to a boolean over the matching terms —
part of the free-form ``q`` surface the reference submits to its cores
(/root/reference/Spcht/Core/WorkOrder.py:693). This implements the
SCORING_BOOLEAN rewrite: the expanded terms score as a disjunctive
BM25 query through the unchanged exact path.

Scale shape:

* Expansion is a ``startswith`` filter on the dictionary — the
  dictionary is the SMALL index table (|vocab| rows, sorted by term in
  the persisted layout, so the prefix predicate prunes row groups via
  min/max stats like Lucene's FST seek).
* Like Lucene's ``maxExpansions`` (default 50 on fuzzy/wildcard
  rewrites), expansion is capped: the top ``max_expansions`` matching
  terms by (df desc, term asc) — deterministic, so a SQL oracle lands
  on the same expansion set.
* The expanded term list is query-sized metadata (collected like the
  query terms' dfs); execution stays the distributed block-scan path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spcht_spark.index.query import exact_topk, topn, values_df


def expand_prefix(
    dictionary: DataFrame, prefix: str, max_expansions: int = 50
) -> list[str]:
    """Terms starting with ``prefix``, top ``max_expansions`` by
    (df desc, term asc)."""
    rows = (
        dictionary.filter(F.col("term").startswith(prefix))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(max_expansions)
        .select("term")
        .collect()
    )
    return [r["term"] for r in rows]


def prefix_topk(
    spark: SparkSession,
    blocks: DataFrame,
    doclens: DataFrame,
    dictionary: DataFrame,
    stats: DataFrame,
    queries: list[tuple[str, str, int]],
    max_expansions: int = 50,
) -> DataFrame:
    """Top-k for ``(query_id, prefix, k)`` prefix queries."""
    expanded = [
        (qid, expand_prefix(dictionary, prefix, max_expansions), k)
        for qid, prefix, k in queries
    ]
    live = [(qid, ts, k) for qid, ts, k in expanded if ts]
    if not live:
        from spcht_spark.index.query import TOPK_SCHEMA

        return spark.createDataFrame([], schema=TOPK_SCHEMA)
    return exact_topk(spark, blocks, doclens, dictionary, stats, live)


def wildcard_regex(pattern: str) -> str:
    """Lucene wildcard pattern → anchored regex: ``*`` matches any run
    (including empty), ``?`` exactly one char, everything else literal.
    Shared by the Spark expansion and the DuckDB oracle (both regex
    engines treat this subset identically)."""
    import re as _re

    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(_re.escape(ch))
    return "^" + "".join(out) + "$"


def expand_wildcards(
    dictionary: DataFrame, patterns: list[str], max_expansions: int = 50
) -> dict[str, list[str]]:
    """pattern → its capped expansion set, ONE pruned dictionary pass
    for the whole batch (Lucene answers leading/infix wildcards —
    ``*handler``, ``te*t`` — by automaton scan of the term dictionary;
    the Spark-first equivalent is a regexp_like scan of the small
    dictionary table against a broadcast patterns frame). The cap is
    maxExpansions discipline: top ``max_expansions`` matches per
    pattern by (df desc, term asc), deterministic so a SQL oracle lands
    on the same set. A pure-prefix pattern (``te*``) should use
    :func:`expand_prefix` instead — startswith prunes row groups where
    a leading-wildcard regex cannot."""
    spark = dictionary.sparkSession
    if not patterns:
        return {}
    pats = values_df(
        spark,
        [(p, wildcard_regex(p)) for p in sorted(set(patterns))],
        ["pattern", "rx"],
    )
    cand = (
        dictionary.select("term", "df")
        .crossJoin(F.broadcast(pats))
        .filter(F.regexp_like(F.col("term"), F.col("rx")))
    )
    rows = topn(
        cand, ["pattern"], "df DESC, term ASC", max_expansions, rank="rn"
    ).select("pattern", "term", "rn").collect()
    out: dict[str, list[str]] = {p: [] for p in patterns}
    for r in sorted(rows, key=lambda r: (r["pattern"], r["rn"])):
        out[r["pattern"]].append(r["term"])
    return out


def wildcard_topk(
    spark: SparkSession,
    blocks: DataFrame,
    doclens: DataFrame,
    dictionary: DataFrame,
    stats: DataFrame,
    queries: list[tuple[str, str, int]],
    max_expansions: int = 50,
) -> DataFrame:
    """Top-k for ``(query_id, wildcard-pattern, k)`` queries — the
    SCORING_BOOLEAN rewrite over the capped expansion, scored as a
    disjunctive BM25 through the unchanged exact path (same contract
    as prefix_topk / fuzzy_topk). One dictionary pass covers the whole
    batch of patterns."""
    expansions = expand_wildcards(
        dictionary, [qs for _, qs, _ in queries], max_expansions
    )
    live = [
        (qid, expansions[qs], k) for qid, qs, k in queries if expansions.get(qs)
    ]
    if not live:
        from spcht_spark.index.query import TOPK_SCHEMA

        return spark.createDataFrame([], schema=TOPK_SCHEMA)
    return exact_topk(spark, blocks, doclens, dictionary, stats, live)
