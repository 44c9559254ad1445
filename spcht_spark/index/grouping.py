"""Result grouping, pivot facets, and facet.query — the remaining Solr
request-surface components around the matching-doc set.

Solr parity: the reference drives a stock Solr request surface
(q/fq/fl/facet/..., /root/reference/Spcht/Core/WorkOrder.py:693-707);
these are the three grouping-flavoured components of that surface not
yet covered by spcht_spark.index.facets / collapse:

* ``group=true&group.field=f&group.limit=n`` — top-k groups per query
  (ranked by their best doc), each with its top-n docs and the group's
  total match count (Solr's per-group ``numFound``).
* ``facet.pivot=f1,f2`` — hierarchical counts over the matching set:
  for every value of f1, its count and the per-f2 breakdown.
* ``facet.query=<lucene query>`` — the count of the base DocSet that
  also matches an arbitrary boolean query (one count per facet query,
  zero-filled like Solr).

Spark-first shapes (100 TB lens):

* Grouping reuses the collapse machinery: term-pruned block scan →
  Arrow decode (dl rides along — no doclens join) → score → ONE narrow
  equi-join on doc_id for the group key → per-(query, group) window
  (group-sized partitions, millions of them, no hot reducer) → the
  group heads go through :func:`spcht_spark.index.query.topn`, salted
  on the group key like every other ranked surface.
* Pivot facets are ONE ``ROLLUP`` aggregation over match⋈attrs —
  Catalyst computes the leaf and the per-f1 subtotal in a single
  partial-aggregating pass instead of two groupBys over the join.
* facet.query intersects two posting-derived id sets (base match ×
  facet-query match) — an equi-join on doc_id, never a corpus scan;
  zero-filling crosses two literal driver-side frames (|queries| ×
  |facet queries| rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spcht_spark.index.facets import matching_docs
from spcht_spark.index.query import (
    decode_blocks,
    exact_scores,
    plain_rows,
    sql_ident,
    sql_in,
    stats_and_idfs,
    topn,
    values_df,
)

# Subtotal sentinel for pivot rows aggregated over ALL f2 values: a
# non-NULL marker keeps the driver-oracle value hash unambiguous
# (NULL-vs-missing sorts differently across engines) and cannot
# collide with a real value when callers pick it outside the domain.
PIVOT_ALL = "*"


def group_topk(
    spark: SparkSession,
    blocks: DataFrame,
    doclens: DataFrame,
    dictionary: DataFrame,
    stats: DataFrame,
    attrs: DataFrame,
    group_col: str,
    queries: list[tuple[str, list[str], int]],
    group_limit: int = 1,
    ngroups: bool = False,
    group_sort: tuple[str, bool] | None = None,
) -> DataFrame:
    """(query_id, grp_rank, grp, grp_n, doc_rank, doc_id, score):
    the top-k groups of each query — ranked by their best doc under
    the engine-wide determinism contract (round(score,6) desc, doc_id
    asc) — each carrying its total match count ``grp_n`` (Solr's
    per-group numFound) and its top ``group_limit`` docs.

    ``ngroups=True`` appends Solr's ``group.ngroups`` — the TOTAL
    distinct-group count of the query's matching set (not just the
    returned top-k) — as an extra ``ngroups`` column on every row.

    ``doclens`` is accepted for API symmetry (decode_blocks surfaces
    the blocks' dl lane). ``group_limit=1`` degenerates to field
    collapsing with a per-group count attached.
    """
    all_terms = sorted({t for _, ts, _ in queries for t in ts})
    stats_row, idfs = stats_and_idfs(dictionary, stats, all_terms)
    schema = (
        "query_id string, grp_rank int, grp string, grp_n long, "
        "doc_rank int, doc_id long, score double"
    )
    if not idfs:
        return spark.createDataFrame([], schema=schema)
    scores = exact_scores(spark, blocks, plain_rows(queries), stats_row, idfs)
    return group_scored(
        scores, attrs, group_col, {qid: k for qid, _, k in queries},
        group_limit, ngroups=ngroups, group_sort=group_sort,
    )


def group_scored(
    scored: DataFrame,
    attrs: DataFrame,
    group_col: str,
    ks: dict[str, int],
    group_limit: int = 1,
    ngroups: bool = False,
    group_sort: tuple[str, bool] | None = None,
) -> DataFrame:
    """Grouping core over a pre-scored (query_id, doc_id, score) frame
    — what :func:`group_topk` runs after BM25 scoring, and what the
    search facade feeds its boolean admissible set (so ``group=true``
    composes with the full q language / fq, like one Solr request).

    ``ngroups`` counts distinct groups from the heads frame (one row
    per (query, group) already exists for group ranking) — an agg over
    group-cardinality rows plus a broadcast join, never a second pass
    over the scored rows.

    ``group_sort`` is Solr's ``group.sort=<attr field> <asc|desc>``
    (field, descending): it orders documents WITHIN each group, while
    the groups themselves keep ranking by their best doc under the
    main sort (relevance) — exactly Solr's split between ``sort`` and
    ``group.sort``. NULL attr values order last in both directions
    (sortMissingLast). Same single pass: the within-group window just
    keys on the attr value, and the group head becomes a windowed
    max(struct(score, -doc_id)) instead of the doc_rank-1 row."""
    gcols = ["doc_id", F.col(group_col).cast("string").alias("grp")]
    if group_sort is not None and group_sort[0] != group_col:
        gcols.append(F.col(group_sort[0]).alias("_gs"))
    elif group_sort is not None:
        gcols.append(F.col(group_col).alias("_gs"))
    j = scored.select("query_id", "doc_id", "score").join(
        attrs.select(*gcols), "doc_id"
    )
    if group_sort is None:
        order = (F.desc(F.round("score", 6)), F.asc("doc_id"))
    else:
        order = (
            F.desc_nulls_last("_gs") if group_sort[1] else F.asc_nulls_last("_gs"),
            F.asc("doc_id"),
        )
    w_grp = Window.partitionBy("query_id", "grp").orderBy(*order)
    w_grp_all = Window.partitionBy("query_id", "grp")
    ranked = j.withColumn("doc_rank", F.row_number().over(w_grp)).withColumn(
        "grp_n", F.count(F.lit(1)).over(w_grp_all)
    )
    # Rank groups by their best doc UNDER THE MAIN SORT (relevance):
    # with group_sort the doc_rank-1 row is no longer that doc — the
    # head is the windowed max(struct(score, -doc_id)), computed
    # BEFORE the group_limit filter (the best-score doc may rank past
    # group.limit in group.sort order and must still lead its group).
    if group_sort is not None:
        ranked = ranked.withColumn(
            "_best",
            F.max(
                F.struct(
                    F.round("score", 6).alias("s"),
                    (-F.col("doc_id")).alias("nd"),
                )
            ).over(w_grp_all),
        )
    members = ranked.filter(F.col("doc_rank") <= group_limit)
    if group_sort is None:
        heads = members.filter(F.col("doc_rank") == 1).select(
            "query_id",
            "grp",
            F.round("score", 6).alias("h_score"),
            F.col("doc_id").alias("h_doc"),
        )
    else:
        heads = members.filter(F.col("doc_rank") == 1).select(
            "query_id",
            "grp",
            F.col("_best.s").alias("h_score"),
            (-F.col("_best.nd")).alias("h_doc"),
        )
    top_groups = topn(
        heads, ["query_id"], "h_score DESC, h_doc ASC", ks, salt="grp",
        rank="grp_rank",
    ).select("query_id", "grp", "grp_rank")
    out = members.join(F.broadcast(top_groups), ["query_id", "grp"]).select(
        "query_id",
        "grp_rank",
        "grp",
        "grp_n",
        "doc_rank",
        "doc_id",
        F.round("score", 4).alias("score"),
    )
    if ngroups:
        n_grp = heads.groupBy("query_id").agg(
            F.count(F.lit(1)).alias("ngroups")
        )
        out = out.join(F.broadcast(n_grp), "query_id")
    return out


def pivot_facets(
    spark: SparkSession,
    blocks: DataFrame,
    queries: list[tuple[str, list[str]]],
    attrs: DataFrame,
    *fields: str,
    doc_filter: DataFrame | None = None,
    match: DataFrame | None = None,
) -> DataFrame:
    """(query_id, value1, …, valueN, n) — Solr ``facet.pivot=f1,…,fN``
    over each query's matching set, any pivot depth (Solr allows an
    arbitrary comma list). Leaf rows count full (f1,…,fN) tuples; every
    shallower pivot level appears as a subtotal row whose aggregated
    tail columns carry ``PIVOT_ALL`` — exactly the prefix aggregations
    ROLLUP produces, so ALL levels come out of ONE partial-aggregating
    pass (never N groupBys over the match⋈attrs join). Levels that
    aggregate over query_id or f1 (meaningless here) are dropped via
    grouping().

    ``match``/``doc_filter`` as in facets.facet_counts: override the
    default disjunctive matching set / restrict by fq ids."""
    if not fields:
        raise ValueError("facet.pivot needs at least one field")
    if match is None:
        match = matching_docs(spark, blocks, queries)
    else:
        match = match.select("query_id", "doc_id")
    if doc_filter is not None:
        match = match.join(doc_filter.select("doc_id"), "doc_id", "semi")
    vcols = [f"value{i + 1}" for i in range(len(fields))]
    j = match.join(
        attrs.select(
            "doc_id",
            *[
                F.col(f).cast("string").alias(v)
                for f, v in zip(fields, vcols)
            ],
        ),
        "doc_id",
    )
    # grouping() is only resolvable inside the rollup's own agg, so the
    # level flags materialize as columns there and the filter reads them
    return (
        j.rollup("query_id", *vcols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.grouping("query_id").alias("_g0"),
            *[F.grouping(v).alias(f"_g{i + 1}") for i, v in enumerate(vcols)],
        )
        .filter((F.col("_g0") == 0) & (F.col("_g1") == 0))
        .select(
            "query_id",
            vcols[0],
            *[
                F.when(F.col(f"_g{i + 1}") == 1, F.lit(PIVOT_ALL))
                .otherwise(F.col(v))
                .alias(v)
                for i, v in enumerate(vcols)
                if i > 0
            ],
            "n",
        )
    )


def facet_query_counts(
    spark: SparkSession,
    blocks: DataFrame,
    doclens: DataFrame,
    dictionary: DataFrame,
    stats: DataFrame,
    queries: list[tuple[str, list[str]]],
    facet_queries: dict[str, str],
    attrs: DataFrame | None = None,
    doc_filter: DataFrame | None = None,
    match: DataFrame | None = None,
    analyzer: str | None = None,
) -> DataFrame:
    """(query_id, facet, n) — Solr ``facet.query``: for every base
    query's matching set, how many of its docs ALSO match each named
    boolean facet query (full q language: AND/OR/NOT, field:value,
    ranges, fuzzy — spcht_spark.index.boolean). Zero-filled: every
    (query, facet) pair appears, count 0 when nothing matches, exactly
    like Solr's response.

    Unlike the postings-driven boolean_matches (whose candidate
    universe is "docs containing ≥1 query term"), the universe here is
    the BASE DocSet — so term-free facet queries (pure ranges,
    ``NOT term``) count correctly: the facet terms present in each
    base doc come from one pruned block scan semi-joined to the base
    ids, docs containing none get an empty set, and each AST evaluates
    as its SQL predicate (``ast_to_spark_sql``) over (present terms,
    attrs). Cost is
    O(|base match| + |facet-term postings ∩ base|), never a corpus
    scan."""
    from spcht_spark.index.boolean import (
        ast_attr_fields,
        ast_terms,
        ast_to_spark_sql,
        expand_fuzzy_ast,
        parse_query,
    )

    parsed = {
        name: expand_fuzzy_ast(
            parse_query(q, analyzer, require_positive=False), dictionary
        )
        for name, q in sorted(facet_queries.items())
    }
    need_fields = sorted(
        {f for ast in parsed.values() for f in ast_attr_fields(ast)}
    )
    if need_fields and attrs is None:
        raise ValueError(
            f"facet queries reference attribute fields {need_fields} but "
            "no attrs table was given"
        )
    reserved = {"query_id", "doc_id", "present", "facet", "n"}
    bad = reserved & set(need_fields)
    if bad:
        raise ValueError(
            f"attribute field name(s) {sorted(bad)} collide with engine "
            "columns — rename them in the attrs table and query"
        )
    if match is None:
        match = matching_docs(spark, blocks, queries)
    else:
        match = match.select("query_id", "doc_id")
    if doc_filter is not None:
        match = match.join(doc_filter.select("doc_id"), "doc_id", "semi")

    all_terms = sorted({t for ast in parsed.values() for t in ast_terms(ast)})
    base = match
    if all_terms:
        postings = decode_blocks(
            blocks.where(f"term IN ({sql_in(all_terms)})")
        ).select("doc_id", "term")
        present = (
            postings.join(match.select("doc_id").distinct(), "doc_id", "semi")
            .groupBy("doc_id")
            .agg(F.collect_set("term").alias("present"))
        )
        base = base.join(present, "doc_id", "left")
        base = base.withColumn(
            "present",
            F.coalesce("present", F.array().cast("array<string>")),
        )
    else:
        base = base.withColumn("present", F.array().cast("array<string>"))
    if need_fields:
        base = base.join(
            attrs.selectExpr("doc_id", *map(sql_ident, need_fields)),
            "doc_id",
            "left",
        )
    # one pass per facet over the base universe (facet_counts' shape);
    # a query whose base set is empty has no rows here — zero-filled
    # below like Solr
    aggs = [
        F.expr(
            f"CAST(sum(CASE WHEN {ast_to_spark_sql(parsed[name])} THEN 1 "
            f"ELSE 0 END) AS BIGINT) AS __fq_{i}"
        )
        for i, name in enumerate(sorted(parsed))
    ]
    wide = base.groupBy("query_id").agg(*aggs)
    counts = None
    for i, name in enumerate(sorted(parsed)):
        one = wide.select(
            "query_id", F.lit(name).alias("facet"), F.col(f"__fq_{i}").alias("n")
        )
        counts = one if counts is None else counts.unionByName(one)
    pairs = values_df(
        spark,
        [(qid, name) for qid, _ in queries for name in sorted(parsed)],
        ["query_id", "facet"],
    )
    return pairs.join(counts, ["query_id", "facet"], "left").select(
        "query_id", "facet", F.coalesce("n", F.lit(0)).alias("n")
    )
