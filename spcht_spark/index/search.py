"""One-call Solr-style request handler over the index.

The reference's every retrieval interaction is ONE Solr request
carrying several components at once — ``q`` + ``fq`` + ``fl`` (+
facets/stats/highlighting on standard cores):
/root/reference/Spcht/Core/WorkOrder.py:693-707 builds exactly such a
request dict. This facade is the engine-side twin: a single
:class:`SearchRequest` runs the boolean/BM25 query once, applies the
filter query, fetches stored fields for the result page, and attaches
the optional facet/stats/highlight components — all computed from the
SAME admissible-doc set (one parsed query, one match pass, shared via
a lazy localCheckpoint), exactly like one Solr request reusing one
DocSet across its components.

Component costs stay what they are standalone: the hit page is top-k
over candidates; facets/stats aggregate the (query, doc) match rows —
postings-bounded, never a corpus scan; stored-field fetch broadcasts
the k·|queries| hit rows against the doc store.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from spcht_spark.index.boolean import (
    ast_terms,
    boolean_matches,
    boolean_matches_ast,
    boolean_topk,
    parse_expanded,
    positive_terms,
)
from spcht_spark.index.build import IndexTables
from spcht_spark.index.facets import facet_counts, field_stats
from spcht_spark.index.highlight import highlight
from spcht_spark.index.query import stats_and_idfs, topk


@dataclass
class SearchRequest:
    """Solr request parameters (the subset the reference exercises,
    plus the standard components)."""

    q: str                                   # boolean / free-form query
    q_op: str = "OR"                         # q.op: operator bare adjacency
                                             # binds with (OR | AND)
    k: int = 10                              # rows
    start: int = 0                           # offset paging (Solr start=N);
                                             # deep paging → index.cursor
    fq: DataFrame | str | None = None        # filter query: (doc_id) frame,
                                             # or a metadata-only fq string
                                             # ("lang:en AND n:[2 TO *]")
    fl: list[str] = field(default_factory=list)  # stored fields to return
    facets: dict[str, Column] | None = None  # facet.field / facet.range;
                                             # values may be (Column,
                                             # [attr_cols]) to prune the
                                             # attrs join explicitly
    facet_queries: dict[str, str] | None = None  # facet.query=<boolean q>
    facet_pivot: tuple[str, ...] | None = None   # facet.pivot=f1,f2,…
                                             # (any depth; one ROLLUP pass)
    facet_prefix: str | None = None          # facet.prefix
    facet_missing: bool = False              # facet.missing
    facet_limit: int | None = None           # facet.limit
    facet_mincount: int = 0                  # facet.mincount
    json_facet: tuple | None = None          # JSON Facet API nested terms:
                                             # (field1, field2, limit1,
                                             #  limit2[, metric_col])
    group_field: str | None = None           # group=true&group.field=f
    group_limit: int = 1                     # group.limit
    group_sort: tuple[str, bool] | None = None  # group.sort=<field> <dir>:
                                             # within-group doc order
                                             # ((field, descending));
                                             # groups still rank by best
                                             # doc under the main sort
    facet_interval: tuple | None = None      # facet.interval:
                                             # (field, ["[0,100)", ...])
    group_ngroups: bool = False              # group.ngroups=true: total
                                             # distinct-group count column
    stats_field: str | None = None           # stats.field
    hl: bool = False                         # highlight
    hl_window: int = 4
    hl_tag: tuple = ("<em>", "</em>")        # hl.tag.pre / hl.tag.post
    hl_snippets: int = 1                     # hl.snippets=N: >1 switches to
                                             # multi-fragment highlighting
                                             # (snippets array column)
    synonyms: dict[str, list[str]] | None = None  # query-time synonym map
                                             # (pre-analyzed; SynonymGraphFilter)
    rerank: tuple[str, int, float] | None = None  # rq={!rerank}: (reRankQuery,
                                             # reRankDocs, reRankWeight)
    elevate_ids: list | None = None          # QueryElevationComponent: pinned
                                             # doc ids, in elevation order
    exclude_ids: list | None = None          # elevation excludes
    stats_facet: str | None = None           # stats.facet: bucket the stats
                                             # component by a second field
    sort: tuple[str, bool] | None = None     # sort=<field|func()> (src, desc):
                                             # page ordered by a docValues
                                             # field / function query instead
                                             # of relevance; ties doc_id asc
    tv: bool = False                         # tv=true: TermVectorComponent
                                             # for the page's docs
    collate: bool = False                    # spellcheck.collate +
                                             # collateExtendedResults
    parent_field: str | None = None          # {!parent}: also rank parent
                                             # entities (score=max) by field


@dataclass
class SearchResponse:
    hits: DataFrame                          # rank page (+ fl, + snippet)
    facets: DataFrame | None = None
    stats: DataFrame | None = None
    facet_query: DataFrame | None = None     # (query_id, facet, n)
    pivot: DataFrame | None = None           # (query_id, value1, …, n)
    json_facets: DataFrame | None = None     # (query_id, value1, n1,
                                             #  value2, n2[, m2])
    groups: DataFrame | None = None          # (query_id, grp_rank, grp,
                                             #  grp_n, doc_rank, doc_id, score)
    term_vectors: DataFrame | None = None    # (doc_id, term, tf, df, tf_idf)
    spellcheck: DataFrame | None = None      # (query_id, collation, hits)
    parents: DataFrame | None = None         # (query_id, rank, parent,
                                             #  score, n_children)
    intervals: DataFrame | None = None       # (query_id, interval, n)


def search(
    spark: SparkSession,
    index: IndexTables,
    doc_store: DataFrame,
    request: SearchRequest,
    query_id: str = "q0",
    id_col: str = "doc_id",
    content_col: str = "content",
) -> SearchResponse:
    """Execute one request. ``doc_store`` provides stored fields (fl),
    highlight content, and facet/stats attributes. Query terms are
    analyzed with the INDEX's analyzer (``index.analyzer``) — one
    analyzer chain at build and query time, Solr semantics.

    Hits-only requests (no facet/stats component) route through
    :func:`boolean_topk`'s pruned execution — flat pure-positive
    queries answer via block-max WAND / skipping AND instead of
    decoding the full matching set; components that genuinely need the
    whole DocSet (facets, stats) keep the full match pass and share it
    (one parsed query, one match pass — Solr's shared DocSet)."""
    if request.tv and index.tokenizer is None:
        # term vectors re-tokenize stored content: a guessed tokenizer's
        # tf would diverge from the postings
        raise ValueError(
            "index records no tokenizer: term vectors need an index "
            "opened with load_index or returned by build_index"
        )
    ast = parse_expanded(
        [request.q], index.dictionary, index.analyzer, request.synonyms, request.q_op
    )[0]
    terms = sorted(ast_terms(ast))
    attrs = (
        doc_store
        if id_col == "doc_id"
        else doc_store.withColumnRenamed(id_col, "doc_id")
    )
    fq = request.fq
    if isinstance(fq, str):
        from spcht_spark.index.boolean import fq_filter

        fq = fq_filter(attrs, fq)

    matches = None
    n_components = (
        1
        + bool(request.facets)
        + bool(request.stats_field)
        + bool(request.facet_queries)
        + bool(request.facet_interval)
        + bool(request.facet_pivot)
        + bool(request.group_field)
        + bool(request.json_facet)
        + bool(request.sort)          # sort needs the full admissible set
        + bool(request.parent_field)  # so does the parent roll-up
    )
    # Post-processors need extra candidates: the rerank window must be
    # fully fetched, and every excluded doc frees a page slot.
    n_fetch = request.start + request.k + len(request.exclude_ids or [])
    if request.rerank:
        n_fetch = max(n_fetch, request.rerank[1])
    if n_components == 1:
        hits = boolean_topk(
            spark,
            index.blocks,
            index.doclens,
            index.dictionary,
            index.stats,
            [(query_id, request.q, n_fetch)],
            doc_filter=fq,
            attrs=attrs,  # enables field:value / field:[lo TO hi] clauses in q
            analyzer=index.analyzer,
            shard_span=index.shard_span,
            synonyms=request.synonyms,
            default_op=request.q_op,
        )
    else:
        # the AST parsed and expanded above, and one stats/idf lookup whose
        # n_docs also proves a small corpus to topk (no salt stage)
        stats_row, idfs = stats_and_idfs(index.dictionary, index.stats, terms)
        matches = boolean_matches_ast(
            spark, index.blocks, index.dictionary, index.stats,
            [(query_id, ast, request.k)], doc_filter=fq, attrs=attrs,
            stats_row=stats_row, idfs=idfs,
        )
        # one match pass feeds hits + facets + stats (Solr's shared DocSet)
        matches = matches.localCheckpoint(eager=False)
        if request.sort:
            hits = _sorted_page(matches, attrs, request.sort, n_fetch)
        else:
            hits = topk(matches, {query_id: n_fetch}, n_docs=stats_row["n_docs"])
    if request.rerank:
        from spcht_spark.index.rerank import rerank_topk

        rq_str, rerank_docs, weight = request.rerank
        # Score the rerank query ONLY over the re-rank window's docs —
        # the doc_filter keeps the rq pass candidate-bounded (Solr
        # reranks a collected window, it never re-runs a full search).
        window_ids = hits.where(f"rank <= {int(rerank_docs)}").select("doc_id")
        rr = boolean_matches(
            spark, index.blocks, index.doclens, index.dictionary, index.stats,
            [(query_id, rq_str, 1)],
            doc_filter=window_ids, attrs=attrs,
            analyzer=index.analyzer, synonyms=request.synonyms,
        ).select("query_id", "doc_id", "score")
        hits = rerank_topk(hits, rr, rerank_docs, weight)
    if request.elevate_ids or request.exclude_ids:
        from spcht_spark.index.rerank import elevate_hits

        hits = elevate_hits(
            spark, hits,
            {query_id: request.elevate_ids or []},
            {query_id: request.exclude_ids or []} if request.exclude_ids else None,
        )
    hits = hits.where(f"rank <= {int(request.start + request.k)}")
    if request.start:
        # Solr start=N: keep absolute ranks, drop the first N rows
        hits = hits.where(f"rank > {int(request.start)}")
    if request.fl:
        stored = attrs.select("doc_id", *request.fl)
        hits = F.broadcast(hits).join(stored, "doc_id").select(
            "query_id", "rank", "doc_id", "score", *request.fl
        )
    if request.hl:
        # Snippets anchor on POSITIVE clauses only — Solr never
        # <em>-wraps a MUST_NOT term that happens to appear in a doc
        # matched via another branch (ADVICE r3).
        hl_queries = [(query_id, sorted(positive_terms(ast)))]
        if request.hl_snippets > 1:
            from spcht_spark.index.highlight import highlight_fragments

            hits = highlight_fragments(
                hits, doc_store, hl_queries,
                window=request.hl_window,
                max_snippets=request.hl_snippets,
                id_col=id_col, content_col=content_col,
                tag_pre=request.hl_tag[0], tag_post=request.hl_tag[1],
            )
        else:
            hits = highlight(
                hits, doc_store, hl_queries,
                window=request.hl_window,
                id_col=id_col, content_col=content_col,
                tag_pre=request.hl_tag[0], tag_post=request.hl_tag[1],
            )

    facets_df = None
    if request.facets:
        facets_df = facet_counts(
            spark, index.blocks, [(query_id, terms)], attrs,
            request.facets, match=matches,
            limit=request.facet_limit, mincount=request.facet_mincount,
            prefix=request.facet_prefix, missing=request.facet_missing,
        )
    stats_df = None
    if request.stats_field:
        from pyspark.sql.types import StringType

        from spcht_spark.index.facets import field_stats_string

        # route by dtype: Solr stats over a string field has no
        # sum/mean — it reports lexicographic min/max + missing +
        # countDistinct instead (the numeric path would NULL them)
        is_str = isinstance(
            attrs.schema[request.stats_field].dataType, StringType
        )
        stats_fn = field_stats_string if is_str else field_stats
        stats_df = stats_fn(
            spark, index.blocks, [(query_id, terms)], attrs,
            request.stats_field, match=matches, by=request.stats_facet,
        )
    interval_df = None
    if request.facet_interval:
        from spcht_spark.index.facets import interval_facets

        i_field, i_set = request.facet_interval
        interval_df = interval_facets(
            spark, index.blocks, [(query_id, terms)], attrs,
            i_field, list(i_set), match=matches,
        )
    fquery_df = None
    if request.facet_queries:
        from spcht_spark.index.grouping import facet_query_counts

        fquery_df = facet_query_counts(
            spark, index.blocks, index.doclens, index.dictionary, index.stats,
            [(query_id, terms)], request.facet_queries, attrs=attrs,
            match=matches, analyzer=index.analyzer,
        )
    pivot_df = None
    if request.facet_pivot:
        from spcht_spark.index.grouping import pivot_facets

        pivot_df = pivot_facets(
            spark, index.blocks, [(query_id, terms)], attrs,
            *request.facet_pivot, match=matches,
        )
    jf_df = None
    if request.json_facet:
        from spcht_spark.index.facets import json_subfacets

        f1, f2, l1, l2, *metric = request.json_facet
        jf_df = json_subfacets(
            spark, index.blocks, [(query_id, terms)], attrs, f1, f2, l1, l2,
            metric=(metric[0] if metric else None), match=matches,
        )
    tv_df = None
    if request.tv:
        from spcht_spark.index.vectors import term_vectors as _term_vectors

        # page-bounded collect: k·|queries| ids — the Solr-client
        # contract (same bound as cursor paging / stored-field fetch)
        ids = [r["doc_id"] for r in hits.select("doc_id").collect()]
        store = doc_store
        if id_col != "doc_id":
            store = store.withColumnRenamed(id_col, "doc_id")
        if content_col != "content":
            store = store.withColumnRenamed(content_col, "content")
        tv_df = _term_vectors(
            spark, store, index.dictionary, ids,
            tokenizer=index.tokenizer,
            analyzer=index.analyzer,
        )
    collate_df = None
    if request.collate:
        from spcht_spark.index.suggest import spellcheck_collate_q

        # collation corrects the ORIGINAL query string (before fuzzy/
        # synonym expansion — Solr spellcheck.q semantics) and counts
        # hits by re-running the collated query WITH its operators
        # (ADVICE r4: the conjunctive-terms shortcut over-counted OR
        # alternatives and counted MUST_NOT terms as required)
        collate_df = spellcheck_collate_q(
            spark, index.dictionary, index.blocks, index.stats,
            [(query_id, request.q)],
            analyzer=index.analyzer, attrs=attrs,
        )
    parents_df = None
    if request.parent_field:
        from spcht_spark.index.join import parent_topk

        parents_df = parent_topk(
            matches, attrs, request.parent_field, {query_id: request.k}
        )
    groups_df = None
    if request.group_field:
        from spcht_spark.index.grouping import group_scored

        # group over the SAME admissible set as the page (q + fq +
        # attr clauses all applied), Solr group=true semantics
        groups_df = group_scored(
            matches, attrs, request.group_field,
            {query_id: request.k}, request.group_limit,
            ngroups=request.group_ngroups,
            group_sort=request.group_sort,
        )
    return SearchResponse(
        hits=hits, facets=facets_df, stats=stats_df,
        facet_query=fquery_df, pivot=pivot_df, groups=groups_df,
        json_facets=jf_df, term_vectors=tv_df, spellcheck=collate_df,
        parents=parents_df, intervals=interval_df,
    )


def _sorted_page(
    matches: DataFrame,
    attrs: DataFrame,
    sort: tuple[str, bool],
    n_fetch: int,
) -> DataFrame:
    """Solr ``sort=<field|func()> asc|desc`` over the request's
    admissible set: the page is ordered by a docValues field or
    function query instead of relevance (score stays in the row, Solr
    returns it when fl asks) —
    :func:`spcht_spark.index.funcquery.function_sorted`, whose
    rank window is :func:`spcht_spark.index.query.topn`."""
    from spcht_spark.index.funcquery import function_sorted

    src, descending = sort
    return function_sorted(
        matches, attrs, src, descending, n_fetch, keep=("score",)
    ).select("query_id", "rank", "doc_id", "score")


def realtime_get(
    doc_store: DataFrame,
    ids: list,
    fl: list[str] | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Solr ``/get?ids=...`` (RealTimeGetHandler): fetch stored fields
    for explicit ids, bypassing query parsing and scoring entirely.

    Solr serves /get from the update log to expose not-yet-committed
    docs; this engine's doc store IS the committed table (an update via
    apply_update swaps it atomically), so /get degenerates to a pruned
    lookup: an ``isin`` filter over the id column — pushed to the
    parquet scan as an IN predicate over a sorted/row-group-statted
    column, so at 10^12 docs it touches only covering row groups, plus
    column pruning to ``fl``.  Returns rows in the request's id order
    (Solr contract), absent ids silently missing (Solr omits them).

    Reference capability: the reference re-fetches individual records
    by id between work-order stages (WorkOrder.py:875-942 delete/
    re-insert loop addresses docs by id the same way)."""
    from spcht_spark.index.query import sql_in_pred, sql_str

    def id_lit(v) -> str:
        return str(int(v)) if isinstance(v, int) else sql_str(v)

    # duplicate ids: one row each, at the first request position (the
    # order map below is a create_map, which rejects duplicate keys)
    ids = list(dict.fromkeys(ids))
    cols = [id_col, *(fl or [])]
    out = doc_store.select(*dict.fromkeys(cols)).where(
        sql_in_pred(f"`{id_col}`", (id_lit(i) for i in ids))
    )
    # request-order rank without a global sort: the id list is
    # page-sized (Solr client contract), so the order map broadcasts
    order_map = F.create_map(
        *[x for i, d in enumerate(ids) for x in (F.lit(d), F.lit(i))]
    )
    return (
        out.withColumn("_ord", order_map[F.col(id_col)])
        .orderBy("_ord")
        .drop("_ord")
    )
