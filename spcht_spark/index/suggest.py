"""Spellcheck / fuzzy term suggestions from the dictionary.

Solr's spellcheck component suggests corrections for query terms from
the index's own term dictionary ranked by edit distance and frequency
— again surface of the cores the reference queries
(/root/reference/Spcht/Core/WorkOrder.py:693). Lucene walks an FST
with a Levenshtein automaton; the Spark-first equivalent is a pruned
scan of the dictionary table:

* Candidate pruning: ``abs(len(term) - len(q)) <= max_distance`` — a
  pure Catalyst predicate on the small dictionary table (and the
  length bound is a necessary condition for the edit distance, so no
  candidate is lost).
* ``levenshtein`` is a JVM built-in (no Python); the misspelled terms
  are a broadcast literal join.
* Ranking per query term: (distance asc, df desc, term asc) —
  deterministic, SQL-oracle-portable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spcht_spark.index.query import decode_blocks, sql_in, topn, values_df


def suggest(
    spark: SparkSession,
    dictionary: DataFrame,
    terms: list[str],
    max_distance: int = 2,
    top_n: int = 5,
) -> DataFrame:
    """(qterm, rank, suggestion, distance, df) — up to ``top_n``
    dictionary terms within ``max_distance`` edits of each input term.
    Exact hits (distance 0) are excluded: a correctly-spelled term
    needs no correction."""
    q = values_df(spark, [(t,) for t in sorted(set(terms))], ["qterm"])
    cand = (
        dictionary.select("term", "df")
        .crossJoin(F.broadcast(q))
        .filter(
            F.abs(F.length("term") - F.length("qterm")) <= max_distance
        )
        .withColumn("distance", F.levenshtein("term", "qterm"))
        .filter((F.col("distance") <= max_distance) & (F.col("distance") > 0))
    )
    return topn(
        cand, ["qterm"], "distance ASC, df DESC, term ASC", top_n,
        cols=["qterm", "rank", "term", "distance", "df"],
    ).withColumnRenamed("term", "suggestion")


def spellcheck_collate(
    spark: SparkSession,
    dictionary: DataFrame,
    blocks: DataFrame,
    queries: list[tuple[str, list[str]]],
    max_distance: int = 2,
) -> DataFrame:
    """Solr ``spellcheck.collate`` (+ ``collateExtendedResults``):
    rewrite each query replacing terms ABSENT from the dictionary with
    their top suggestion, and report how many docs the collation would
    return as a conjunctive (MUST) query — Solr verifies collations
    with ``maxCollationTries`` internal queries; here one distributed
    pass counts every collation's hits at once.

    Returns (query_id, collation, hits). Terms present in the
    dictionary are kept verbatim (Solr only corrects misspelled terms);
    a missing term with no suggestion within ``max_distance`` stays and
    yields 0 hits, like a collation Solr would discard.

    Driver-side work is bounded by |query terms| (the known-term lookup
    and the top-1 suggestion per missing term); hit counting decodes
    only the collated terms' pruned blocks and partial-aggs per
    (query, doc) — no full-corpus structure ever reaches the driver."""
    if not queries:
        return spark.createDataFrame(
            [], schema="query_id string, collation string, hits long"
        )
    all_terms = sorted({t for _, ts in queries for t in ts})
    known = {
        r["term"]
        for r in dictionary.where(f"term IN ({sql_in(all_terms)})")
        .select("term")
        .collect()
    } if all_terms else set()
    missing = sorted(set(all_terms) - known)
    best: dict[str, str] = {}
    if missing:
        top = suggest(
            spark, dictionary, missing, max_distance=max_distance, top_n=1
        ).collect()
        best = {r["qterm"]: r["suggestion"] for r in top}
    coll = {qid: [best.get(t, t) for t in ts] for qid, ts in queries}
    base = values_df(
        spark,
        [(qid, " ".join(coll[qid])) for qid, _ in queries],
        ["query_id", "collation"],
    )
    qrows = [
        (qid, t) for qid, ts in coll.items() for t in sorted(set(ts))
    ]
    if not qrows:  # every term list is empty: no collation matches a doc
        return base.selectExpr("query_id", "collation", "CAST(0 AS BIGINT) AS hits")
    n_terms = {qid: len(set(ts)) for qid, ts in coll.items()}
    query_terms = values_df(spark, qrows, ["query_id", "term"])
    need = sorted({t for _, t in qrows})
    postings = decode_blocks(blocks.where(f"term IN ({sql_in(need)})")).select(
        "term", "doc_id"
    )
    nt_map = F.create_map(
        *[x for q, n in sorted(n_terms.items()) for x in (F.lit(q), F.lit(n))]
    )
    hits = (
        postings.join(F.broadcast(query_terms), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("nm"))  # (doc, term) unique in postings
        .filter(F.col("nm") == nt_map[F.col("query_id")])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    return (
        base.join(hits, "query_id", "left")
        .select(
            "query_id",
            "collation",
            F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
        )
    )


def _collate_token(tok: str, known: set[str], best: dict[str, str], fold) -> str:
    """Rewrite one lexed query token: a fulltext term absent from the
    dictionary is replaced by its top suggestion; operators, parens,
    attribute clauses, boosts and fuzzy/negation decorations pass
    through (decorations are preserved on the corrected base)."""
    from spcht_spark.index.boolean import _ATTR_RE, _BOOST_RE, _FUZZY_Q_RE

    if tok in ("(", ")") or tok.upper() in ("AND", "OR", "NOT"):
        return tok
    neg = ""
    body = tok
    if body.startswith("-") and len(body) > 1:
        neg, body = "-", body[1:]
    if _ATTR_RE.match(body):
        return tok  # field:value / range clause — never spell-corrected
    boost = ""
    m = _BOOST_RE.match(body)
    if m:
        body, boost = m.group(1), "^" + m.group(2)
    fuz = ""
    mf = _FUZZY_Q_RE.match(body)
    if mf:
        body, fuz = mf.group(1), "~" + mf.group(2)
    folded = fold(body)
    if folded in known:
        return tok
    sug = best.get(folded)
    if sug is None:
        return tok  # no suggestion in range — keep verbatim (0-hit clause)
    return neg + sug + boost + fuz


def spellcheck_collate_q(
    spark: SparkSession,
    dictionary: DataFrame,
    blocks: DataFrame,
    stats: DataFrame,
    queries: list[tuple[str, str]],
    analyzer: str | None = None,
    attrs: DataFrame | None = None,
    max_distance: int = 2,
) -> DataFrame:
    """Operator-preserving ``spellcheck.collate`` over full boolean
    ``q`` strings (ADVICE r4, medium): Solr verifies a collation by
    re-running the corrected query WITH its original operators, so
    ``spark OR jion`` counts the disjunction and ``spark AND -jion``
    counts docs with spark and WITHOUT the corrected term — the
    conjunctive-terms shortcut (:func:`spellcheck_collate`) over-counts
    OR queries and mis-counts negations as required.

    Returns (query_id, collation, hits): the collation is the original
    query string with dictionary-absent fulltext terms replaced by
    their top suggestion (decorations — boosts, fuzzy markers,
    ``-``-negation — preserved; attribute clauses never corrected), and
    ``hits`` is the size of the collated query's admissible set from
    one boolean_matches pass (operators, attr clauses and fq-less
    semantics exactly as the live query path would execute it)."""
    from spcht_spark.index.boolean import (
        _fold_fn,
        _lex,
        ast_terms,
        boolean_matches_ast,
        parse_expanded,
        parse_query,
    )

    fold = _fold_fn(analyzer)
    raw_asts = [parse_query(q, analyzer) for _, q in queries]
    all_terms = sorted({t for ast in raw_asts for t in ast_terms(ast)})
    known = {
        r["term"]
        for r in dictionary.where(f"term IN ({sql_in(all_terms)})")
        .select("term")
        .collect()
    } if all_terms else set()
    missing = sorted(set(all_terms) - known)
    best: dict[str, str] = {}
    if missing:
        top = suggest(
            spark, dictionary, missing, max_distance=max_distance, top_n=1
        ).collect()
        best = {r["qterm"]: r["suggestion"] for r in top}
    collations = {
        qid: " ".join(_collate_token(t, known, best, fold) for t in _lex(q))
        for qid, q in queries
    }
    base = values_df(
        spark,
        [(qid, collations[qid]) for qid, _ in queries],
        ["query_id", "collation"],
    )
    parsed_coll = parse_expanded(
        [collations[qid] for qid, _ in queries], dictionary, analyzer
    )
    matches = boolean_matches_ast(
        spark, blocks, dictionary, stats,
        [(qid, ast, 1) for (qid, _), ast in zip(queries, parsed_coll)],
        attrs=attrs,
    )
    hits = matches.groupBy("query_id").agg(F.count(F.lit(1)).alias("hits"))
    return base.join(hits, "query_id", "left").select(
        "query_id",
        "collation",
        F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
    )


def complete(
    spark: SparkSession,
    dictionary: DataFrame,
    prefixes: list[str],
    top_n: int = 5,
    min_chars: int = 1,
) -> DataFrame:
    """(prefix, rank, suggestion, weight) — the Suggester component
    (Solr /suggest, distinct from spellcheck): COMPLETE a typed prefix
    to full dictionary terms, ranked by weight. Lucene backs this with
    an FST (AnalyzingSuggester / FreeTextSuggester) weighted by term
    frequency; the Spark-first twin ranks by the dictionary's df
    (weight desc, term asc — deterministic, SQL-portable) over a
    STARTSWITH-pruned dictionary scan.

    The scan stays narrow at any scale: ``startswith`` on the sorted
    term column prunes parquet row groups by min/max stats exactly
    like the prefix-query path (index/prefix.py); the prefix batch is
    a broadcast literal join; per-prefix top-n is a window over
    candidate rows only. Exact whole-term hits count as their own
    completion (Solr returns them; weight still ranks).

    Reference capability: the /suggest handler of the cores the
    reference queries (WorkOrder.py:693)."""
    ps = sorted({p for p in prefixes if len(p) >= min_chars})
    if not ps:
        return spark.createDataFrame(
            [], schema="prefix string, rank int, suggestion string, weight long"
        )
    pdf = values_df(spark, [(p,) for p in ps], ["prefix"])
    # one disjunctive pushdown predicate for the whole batch keeps the
    # dictionary scan pruned before the broadcast-join fan-out
    pushed = None
    for p in ps:
        c = F.col("term").startswith(p)
        pushed = c if pushed is None else (pushed | c)
    cand = (
        dictionary.select("term", "df")
        .filter(pushed)
        .join(F.broadcast(pdf), F.col("term").startswith(F.col("prefix")))
    )
    return topn(
        cand, ["prefix"], "df DESC, term ASC", top_n,
        cols=["prefix", "rank", "term", "df"],
    ).withColumnsRenamed({"term": "suggestion", "df": "weight"})
