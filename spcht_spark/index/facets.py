"""Facet counts over the matching-doc set of an index query.

Solr parity: the reference's upstream Solr exposes ``facet.field`` /
``facet.range`` alongside every query (the Solr request surface Spcht
talks to via ``q``/``fq``/``fl``, /root/reference/Spcht/Core/
WorkOrder.py:693-707); faceting is the canonical "what does the result
set look like" companion to top-k. Here a facet is computed over ALL
docs matching the query (disjunctive: contains ≥1 query term, Solr's
default OR op), not just the top-k page — exactly Solr semantics.

Spark-first shape (100 TB lens):

* The matching-doc set comes from the posting blocks (``term IN (...)``
  pruned scan → Arrow decode → distinct), never from a corpus scan —
  facets cost O(|postings of query terms|), not O(corpus).
* distinct on (query_id, doc_id) is one shuffle; the attrs join is an
  equi-join on doc_id (narrow ids vs the attrs table, broadcastable
  from the facet side when the match set is small); the final count is
  a partial-aggregating groupBy. No window, no driver collect.
* Range facets are just a bucket Column expression — computed JVM-side
  in the same pass, Solr ``facet.range`` ≙ floor((x-start)/gap).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from spcht_spark.index.query import decode_blocks, sql_in, topn, values_df

def matching_docs(
    spark: SparkSession,
    blocks: DataFrame,
    queries: list[tuple[str, list[str]]],
) -> DataFrame:
    """(query_id, doc_id) — distinct docs containing ≥1 query term.

    The block scan is pruned by ``term IN (...)`` (pushed to parquet
    row-group stats on the sorted term column, same path plan_audit.py
    checks for the top-k queries)."""
    all_terms = sorted({t for _, ts in queries for t in ts})
    if not all_terms:
        return spark.createDataFrame(
            [], schema="query_id string, doc_id long"
        )
    qrows = [(qid, t) for qid, ts in queries for t in sorted(set(ts))]
    query_terms = values_df(spark, qrows, ["query_id", "term"])
    postings = decode_blocks(blocks.where(f"term IN ({sql_in(all_terms)})"))
    return (
        postings.join(F.broadcast(query_terms), "term")
        .select("query_id", "doc_id")
        .distinct()
    )


def facet_counts(
    spark: SparkSession,
    blocks: DataFrame,
    queries: list[tuple[str, list[str]]],
    attrs: DataFrame,
    facets: dict[str, Column],
    doc_filter: DataFrame | None = None,
    match: DataFrame | None = None,
    limit: int | None = None,
    mincount: int = 0,
    sort: str = "count",
    prefix: str | None = None,
    missing: bool = False,
) -> DataFrame:
    """(query_id, field, value, n) — per-query facet counts.

    ``limit``/``mincount``/``sort`` are Solr's ``facet.limit`` /
    ``facet.mincount`` / ``facet.sort``: buckets with n < mincount are
    dropped, and with a limit only the top-``limit`` buckets per
    (query, facet) survive, ordered by ``sort`` — ``"count"`` (n desc,
    value asc — Solr's default) or ``"index"`` (value asc). At web
    scale a facet over a high-cardinality field (URLs, hosts) has
    billions of buckets; the limit applies through
    :func:`spcht_spark.index.query.topn` salted on the bucket value, as
    every ranked surface, so no reducer ever holds one (query, facet)'s
    full bucket list. ``limit=None`` returns all buckets (the unlimited
    legacy shape).

    ``prefix`` is Solr ``facet.prefix``: only buckets whose string
    value starts with it survive (applied BEFORE mincount/limit, Solr
    order — and pushed below the count aggregation here, so pruned
    buckets never shuffle). ``missing=True`` is ``facet.missing``:
    one extra NULL-valued bucket per (query, facet) counts matched
    docs with no value in the field — the attrs join flips to LEFT so
    docs absent from the attrs table count too (they are in the
    DocSet; Solr counts them).

    ``facets`` maps a facet name to either a Column over ``attrs``
    producing the bucket value (a plain column for ``facet.field``, a
    bucket expression like ``F.floor(F.col("n_chars")/100)*100`` for
    ``facet.range``) or a ``(Column, [attr_col, ...])`` tuple naming
    the attrs columns the expression reads — the explicit form prunes
    the attrs join input; a bare Column joins EVERY attrs column
    (callers should pre-select attrs or use the tuple form — the old
    best-effort plan-string sniff is gone, it read ``Column._jc``).
    ``doc_filter`` is Solr fq: a (doc_id) DataFrame
    restricting the countable docs (semi-join on ids — narrow).
    ``match`` overrides the default disjunctive matching set with a
    caller-computed (query_id, doc_id) frame — e.g. the admissible set
    of a boolean query (spcht_spark.index.boolean.boolean_matches), so
    facets count docs matching the WHOLE q, Solr semantics.

    One matching-docs pass is shared by every facet (the attrs join
    happens once); per-facet counting is a partial-agg groupBy each.
    """
    if match is None:
        match = matching_docs(spark, blocks, queries)
    else:
        match = match.select("query_id", "doc_id")
    if doc_filter is not None:
        match = match.join(doc_filter.select("doc_id"), "doc_id", "semi")
    specs = {
        name: (v if isinstance(v, tuple) else (v, None))
        for name, v in facets.items()
    }
    all_attr_cols = [c for c in attrs.columns if c != "doc_id"]
    need = ["doc_id"] + sorted(
        {
            c
            for col, cols in specs.values()
            for c in (cols if cols is not None else all_attr_cols)
        }
    )
    joined = match.join(
        attrs.select(*[c for c in need]), "doc_id", "left" if missing else "inner"
    )

    if sort not in ("count", "index"):
        raise ValueError(f"facet sort must be 'count' or 'index', got {sort!r}")
    outs = []
    for name in sorted(specs):
        value = specs[name][0].cast("string")
        grouped = joined
        if prefix is not None:
            keep = value.startswith(prefix)
            grouped = grouped.filter(keep | value.isNull() if missing else keep)
        outs.append(
            grouped.groupBy("query_id", value.alias("value"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                "query_id", F.lit(name).alias("field"), "value", "n"
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    if mincount > 0:
        res = res.filter(F.col("n") >= mincount)
    if limit is not None:
        order = "n DESC, value ASC" if sort == "count" else "value ASC"
        # facet.missing's NULL bucket is appended OUTSIDE the limit in
        # Solr's response; exempt it from the window the same way.
        nullb = res.filter(F.col("value").isNull()) if missing else None
        if missing:
            res = res.filter(F.col("value").isNotNull())
        res = topn(
            res, ["query_id", "field"], order, limit, salt="value",
            cols=res.columns,
        )
        if nullb is not None:
            res = res.unionByName(nullb)
    return res


def json_subfacets(
    spark: SparkSession,
    blocks: DataFrame,
    queries: list[tuple[str, list[str]]],
    attrs: DataFrame,
    field1: str,
    field2: str,
    limit1: int,
    limit2: int,
    metric: str | None = None,
    doc_filter: DataFrame | None = None,
    match: DataFrame | None = None,
) -> DataFrame:
    """Solr JSON Facet API — a terms facet with a NESTED terms subfacet
    and an optional per-bucket numeric metric::

        json.facet={f1:{type:terms, field:F1, limit:L1,
                        facet:{f2:{type:terms, field:F2, limit:L2,
                                   m:"sum(METRIC)"}}}}

    Returns (query_id, value1, n1, value2, n2[, m2]): the top-``limit1``
    F1 buckets per query (count desc, value asc — the API's default
    ``sort:"count"``), and within each the top-``limit2`` F2 buckets,
    ``m2`` = sum(metric) over the nested bucket when ``metric`` names a
    numeric attrs column. ``n1`` is the PARENT bucket's full count —
    computed by summing the leaf counts, so the doc set aggregates
    exactly once.

    Scale shape: one groupBy to the leaf level (query, v1, v2) — the
    only pass over the matching set — then bucket-level (not doc-level)
    rollup to level 1; both per-level limits run through
    :func:`spcht_spark.index.query.topn` salted on the bucket value (no
    reducer holds a full bucket list of a high-cardinality field). The level-1 survivors semi-join the leaf
    table on (query_id, value1): broadcastable (≤ |queries|·limit1
    rows)."""
    if match is None:
        match = matching_docs(spark, blocks, queries)
    else:
        match = match.select("query_id", "doc_id")
    if doc_filter is not None:
        match = match.join(doc_filter.select("doc_id"), "doc_id", "semi")
    cols = ["doc_id", field1, field2] + ([metric] if metric else [])
    j = match.join(attrs.select(*dict.fromkeys(cols)), "doc_id")

    aggs = [F.count(F.lit(1)).alias("n2")]
    if metric:
        aggs.append(F.sum(F.col(metric).cast("double")).alias("m2"))
    leaves = j.groupBy(
        "query_id",
        F.col(field1).cast("string").alias("value1"),
        F.col(field2).cast("string").alias("value2"),
    ).agg(*aggs)

    top1 = topn(
        leaves.groupBy("query_id", "value1").agg(F.sum("n2").alias("n1")),
        ["query_id"], "n1 DESC, value1 ASC", limit1, salt="value1",
        cols=["query_id", "value1", "n1"],
    )

    nested = leaves.join(F.broadcast(top1), ["query_id", "value1"])
    nested = topn(
        nested, ["query_id", "value1"], "n2 DESC, value2 ASC", limit2,
        salt="value2", cols=nested.columns,
    )
    out_cols = ["query_id", "value1", "n1", "value2", "n2"]
    if metric:
        out_cols.append("m2")
    return nested.select(*out_cols)


def field_stats(
    spark: SparkSession,
    blocks: DataFrame,
    queries: list[tuple[str, list[str]]],
    attrs: DataFrame,
    field: str,
    doc_filter: DataFrame | None = None,
    match: DataFrame | None = None,
    by: str | None = None,
) -> DataFrame:
    """Solr stats component: count/min/max/sum/mean of a numeric field
    over ALL docs matching each query — same matching-doc machinery as
    faceting (``match`` overrides it like in :func:`facet_counts`),
    one partial-agg groupBy. Returns (query_id, n, min_v, max_v,
    sum_v, avg_v).

    ``by`` — Solr ``stats.facet``: break the stats down per value of a
    second attribute field; the output gains a ``bucket`` column and
    the groupBy key widens to (query_id, bucket) — still one
    partial-agg pass, and the wider key only *improves* balance (the
    per-query groups split across buckets)."""
    if match is None:
        match = matching_docs(spark, blocks, queries)
    else:
        match = match.select("query_id", "doc_id")
    if doc_filter is not None:
        match = match.join(doc_filter.select("doc_id"), "doc_id", "semi")
    # doc_id is always selected — don't select it twice when ``field``
    # or ``by`` IS doc_id (ambiguous-column analysis error otherwise)
    cols = [c for c in dict.fromkeys([field, by]) if c not in (None, "doc_id")]
    j = match.join(attrs.select("doc_id", *cols), "doc_id")
    keys = ["query_id"]
    if by is not None:
        j = j.withColumn("bucket", F.col(by).cast("string"))
        keys.append("bucket")
    return j.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(field).cast("long").alias("min_v"),
        F.max(field).cast("long").alias("max_v"),
        F.sum(field).cast("long").alias("sum_v"),
        (F.sum(field).cast("double") / F.count(F.lit(1))).alias("avg_v"),
    )


def field_stats_string(
    spark: SparkSession,
    blocks: DataFrame,
    queries: list[tuple[str, list[str]]],
    attrs: DataFrame,
    field: str,
    doc_filter: DataFrame | None = None,
    match: DataFrame | None = None,
    by: str | None = None,
) -> DataFrame:
    """Solr stats component over a STRING field — min/max are
    lexicographic, sum/mean do not exist; instead Solr reports
    ``missing`` (matched docs with a NULL value or no attrs row) and
    ``countDistinct`` (stats.calcdistinct); ``count`` is the non-NULL
    values only, as in Solr. Returns (query_id[, bucket], n, min_v,
    max_v, n_missing, n_distinct) from the same matching-doc machinery
    and ONE aggregation pass (count-distinct partial-aggregates like
    everything else; at web scale swap approx_count_distinct in the
    caller if exactness is not needed — Solr's is exact, so this is).

    The numeric twin (:func:`field_stats`) silently NULLed these
    fields (min/max cast long); the facade routes by the attr column's
    dtype so ``stats.field=<string col>`` just works."""
    if match is None:
        match = matching_docs(spark, blocks, queries)
    else:
        match = match.select("query_id", "doc_id")
    if doc_filter is not None:
        match = match.join(doc_filter.select("doc_id"), "doc_id", "semi")
    cols = [c for c in dict.fromkeys([field, by]) if c not in (None, "doc_id")]
    j = match.join(attrs.select("doc_id", *cols), "doc_id", "left")
    keys = ["query_id"]
    if by is not None:
        j = j.withColumn("bucket", F.col(by).cast("string"))
        keys.append("bucket")
    v = F.col(field).cast("string")
    return j.groupBy(*keys).agg(
        F.count(v).alias("n"),
        F.min(v).alias("min_v"),
        F.max(v).alias("max_v"),
        F.sum(v.isNull().cast("long")).alias("n_missing"),
        F.countDistinct(v).alias("n_distinct"),
    )


_INTERVAL_RE = re.compile(
    r"^([\[\(])\s*([^,\s]+)\s*,\s*([^,\s\]\)]+)\s*([\]\)])$"
)


def parse_interval(spec: str) -> tuple[bool, str | None, str | None, bool]:
    """Solr ``facet.interval.set`` syntax → (lo_closed, lo, hi,
    hi_closed); ``*`` bounds open that end (returned as None).
    ``[0,100)`` → (True, '0', '100', False)."""
    m = _INTERVAL_RE.match(spec.strip())
    if not m:
        raise ValueError(f"malformed interval {spec!r} — expected [lo,hi)")
    lo_c, lo, hi, hi_c = m.groups()
    return (
        lo_c == "[",
        None if lo == "*" else lo,
        None if hi == "*" else hi,
        hi_c == "]",
    )


def interval_facets(
    spark: SparkSession,
    blocks: DataFrame,
    queries: list[tuple[str, list[str]]],
    attrs: DataFrame,
    field: str,
    intervals: list[str],
    doc_filter: DataFrame | None = None,
    match: DataFrame | None = None,
) -> DataFrame:
    """(query_id, interval, n) — Solr IntervalFacets
    (``facet.interval=<field>`` + ``facet.interval.set=[0,100)`` …):
    each interval counts the matched docs whose field value lies in
    it, bounds closed/open per bracket, ``*`` opening an end. Solr
    evaluates every interval independently, so OVERLAPPING sets are
    legal — which is why the plan is one conditional-sum aggregate per
    interval inside a SINGLE partial-agg groupBy(query_id) pass (an
    explode into interval rows would multiply the matched set by the
    overlap factor before the shuffle; the conditional sums ship one
    row per map task per query). Numeric comparison when every closed
    bound parses as a number, else lexicographic — same coercion rule
    as the in-q range clauses (boolean._attr_clause).

    Reference capability: the stock Solr facet surface behind the
    reference's request strings (WorkOrder.py:693-707)."""
    if match is None:
        match = matching_docs(spark, blocks, queries)
    else:
        match = match.select("query_id", "doc_id")
    if doc_filter is not None:
        match = match.join(doc_filter.select("doc_id"), "doc_id", "semi")
    parsed = [(spec, parse_interval(spec)) for spec in intervals]
    closed_bounds = [
        b for _, (_, lo, hi, _) in parsed for b in (lo, hi) if b is not None
    ]
    numeric = True
    try:
        [float(b) for b in closed_bounds]
    except ValueError:
        numeric = False
    val = F.col(field).cast("double") if numeric else F.col(field).cast("string")
    j = match.join(attrs.select("doc_id", field), "doc_id")

    def in_interval(lo_c: bool, lo, hi, hi_c: bool):
        cond = val.isNotNull()
        if lo is not None:
            b = F.lit(float(lo)) if numeric else F.lit(lo)
            cond = cond & (val >= b if lo_c else val > b)
        if hi is not None:
            b = F.lit(float(hi)) if numeric else F.lit(hi)
            cond = cond & (val <= b if hi_c else val < b)
        return cond

    aggs = [
        F.sum(in_interval(*iv).cast("long")).alias(spec)
        for spec, iv in parsed
    ]
    wide = j.groupBy("query_id").agg(*aggs)
    # unpivot the per-interval sums into (query_id, interval, n) rows —
    # |intervals| is request-sized, so stack is a driver-side constant
    pairs = ", ".join(f"'{s}', `{s}`" for s, _ in parsed)
    return wide.selectExpr(
        "query_id",
        f"stack({len(parsed)}, {pairs}) as (interval, n)",
    )


def range_facets(
    spark: SparkSession,
    blocks: DataFrame,
    queries: list[tuple[str, list[str]]],
    attrs: DataFrame,
    field: str,
    start: float,
    end: float,
    gap: float,
    others: tuple[str, ...] = (),
    hardend: bool = False,
    doc_filter: DataFrame | None = None,
    match: DataFrame | None = None,
) -> DataFrame:
    """(query_id, bucket, n) — Solr's explicit RangeFacets API
    (``facet.range=<f>&facet.range.start/end/gap`` +
    ``facet.range.other=before|after|between|all``): gap-sized buckets
    keyed by their lower bound (Solr's bucket naming), the last bucket
    clipped to ``end`` when ``hardend`` else extending a full gap past
    it (Solr hardend semantics), plus the requested ``other`` counts.

    Pure request-expansion: the bucket set is a driver-side constant
    (``(end-start)/gap`` intervals — request-sized, like Solr's own
    bucket list), handed to :func:`interval_facets`, so the whole
    facet — buckets AND others — is still ONE conditional-sum
    partial-agg pass over the matched set."""
    if gap <= 0 or end <= start:
        raise ValueError("facet.range needs gap > 0 and end > start")
    if others == ("all",) or "all" in others:
        others = ("before", "after", "between")
    specs: list[tuple[str, str]] = []  # (bucket label, interval spec)
    # bucket i spans [start + i·gap, start + (i+1)·gap): computed, not
    # accumulated, so float gaps add no rounding drift (0.1 · 10 steps
    # must stop at 1.0, not emit an 11th bucket at 0.9999999999999999)
    i = 0
    while (lo := start + i * gap) < end:
        i += 1
        hi = min(start + i * gap, end) if hardend else start + i * gap
        specs.append((_num(lo), f"[{_num(lo)},{_num(hi)})"))
    end_actual = end if hardend else lo
    for o in others:
        if o == "before":
            specs.append(("before", f"[*,{_num(start)})"))
        elif o == "after":
            specs.append(("after", f"[{_num(end_actual)},*]"))
        elif o == "between":
            specs.append(("between", f"[{_num(start)},{_num(end_actual)})"))
        else:
            raise ValueError(f"facet.range.other: unknown {o!r}")
    out = interval_facets(
        spark, blocks, queries, attrs, field,
        [s for _, s in specs], doc_filter=doc_filter, match=match,
    )
    label_map = F.create_map(
        *[x for lbl, s in specs for x in (F.lit(s), F.lit(lbl))]
    )
    return out.select(
        "query_id", label_map[F.col("interval")].alias("bucket"), "n"
    )


def _num(v: float) -> str:
    """Render a bound the way Solr keys numeric buckets (no trailing
    .0 for integral values)."""
    f = float(v)
    return str(int(f)) if f.is_integer() else repr(f)
