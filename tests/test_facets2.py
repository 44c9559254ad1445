"""facet.prefix / facet.missing and the JSON Facet API nested subfacets
(terms facet inside a terms facet, with a per-bucket metric)."""

from __future__ import annotations

from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from spcht_spark.index.facets import facet_counts, json_subfacets
from spcht_spark.oracle import tokenize_py

QUERIES = [("fq", ["return", "if"])]


def _match_docs(pdf, terms):
    return {
        int(r.doc_id)
        for r in pdf.itertuples()
        if set(tokenize_py(r.content)) & set(terms)
    }


def test_facet_prefix(spark, small_corpus_pd, small_corpus, small_index):
    got = Counter()
    for r in facet_counts(
        spark, small_index.blocks, QUERIES,
        small_corpus.select("doc_id", "repo"),
        {"repo": F.col("repo")},
        prefix="org1/",
    ).collect():
        got[(r["query_id"], r["field"], r["value"])] = r["n"]
    docs = _match_docs(small_corpus_pd, QUERIES[0][1])
    want = Counter()
    for r in small_corpus_pd.itertuples():
        if int(r.doc_id) in docs and r.repo.startswith("org1/"):
            want[("fq", "repo", r.repo)] += 1
    assert got == want and want


def test_facet_missing_counts_nulls_and_absent(spark, small_corpus_pd, small_index):
    """facet.missing: NULL-valued docs AND docs absent from the attrs
    table land in the NULL bucket; with a limit the NULL bucket rides
    outside the window (Solr appends it after the top buckets)."""
    docs = sorted(_match_docs(small_corpus_pd, QUERIES[0][1]))
    assert len(docs) >= 10
    nulled = set(docs[:3])       # present in attrs, lang NULL
    absent = set(docs[3:6])      # not in attrs at all
    rows = [
        (int(r.doc_id), None if int(r.doc_id) in nulled else r.lang)
        for r in small_corpus_pd.itertuples()
        if int(r.doc_id) not in absent
    ]
    attrs = spark.createDataFrame(rows, "doc_id long, lang string")

    got = {
        r["value"]: r["n"]
        for r in facet_counts(
            spark, small_index.blocks, QUERIES, attrs,
            {"lang": F.col("lang")}, missing=True,
        ).collect()
    }
    want = defaultdict(int)
    for r in small_corpus_pd.itertuples():
        if int(r.doc_id) not in docs:
            continue
        if int(r.doc_id) in nulled or int(r.doc_id) in absent:
            want[None] += 1
        else:
            want[r.lang] += 1
    assert got == dict(want)
    assert got[None] == 6

    # limit=1: exactly the hottest bucket plus the NULL bucket
    got_lim = {
        r["value"]: r["n"]
        for r in facet_counts(
            spark, small_index.blocks, QUERIES, attrs,
            {"lang": F.col("lang")}, missing=True, limit=1,
        ).collect()
    }
    hot = sorted(
        (v for v in want if v is not None),
        key=lambda v: (-want[v], v),
    )[0]
    assert got_lim == {hot: want[hot], None: want[None]}


def test_facet_missing_false_unchanged(spark, small_corpus_pd, small_corpus, small_index):
    """Default missing=False keeps the round-3 behaviour bit-for-bit
    (inner attrs join, no exempt bucket)."""
    base = facet_counts(
        spark, small_index.blocks, QUERIES,
        small_corpus.select("doc_id", "lang"), {"lang": F.col("lang")},
    ).collect()
    docs = _match_docs(small_corpus_pd, QUERIES[0][1])
    want = Counter()
    for r in small_corpus_pd.itertuples():
        if int(r.doc_id) in docs:
            want[r.lang] += 1
    assert {r["value"]: r["n"] for r in base} == dict(want)


def test_json_subfacets(spark, small_corpus_pd, small_corpus, small_index):
    """Nested terms facet lang→repo with a sum(n_lines-ish) metric vs a
    pandas recompute honouring both per-level limits."""
    attrs = small_corpus.select(
        "doc_id", "lang", "repo", F.length("content").alias("nc")
    )
    got = [
        (r["value1"], r["n1"], r["value2"], r["n2"], round(r["m2"], 3))
        for r in json_subfacets(
            spark, small_index.blocks, QUERIES, attrs,
            "lang", "repo", limit1=2, limit2=3, metric="nc",
        ).collect()
    ]

    docs = _match_docs(small_corpus_pd, QUERIES[0][1])
    pdf = small_corpus_pd[small_corpus_pd["doc_id"].astype(int).isin(docs)].copy()
    pdf["nc"] = pdf["content"].str.len()
    l1 = (
        pdf.groupby("lang").size().reset_index(name="n1")
        .sort_values(["n1", "lang"], ascending=[False, True])
        .head(2)
    )
    want = []
    for _, row in l1.iterrows():
        sub = pdf[pdf["lang"] == row["lang"]]
        l2 = (
            sub.groupby("repo")
            .agg(n2=("repo", "size"), m2=("nc", "sum"))
            .reset_index()
            .sort_values(["n2", "repo"], ascending=[False, True])
            .head(3)
        )
        for _, r2 in l2.iterrows():
            want.append(
                (row["lang"], int(row["n1"]), r2["repo"], int(r2["n2"]),
                 round(float(r2["m2"]), 3))
            )
    assert sorted(got) == sorted(want) and want


def test_facade_json_facet_and_prefix(spark, small_corpus, small_index):
    """The request facade threads facet.prefix/limit and the JSON
    nested facet to the same frames the standalone calls produce — over
    the SHARED boolean match set."""
    from spcht_spark.index.boolean import boolean_matches
    from spcht_spark.index.search import SearchRequest, search

    store = small_corpus.select(
        "doc_id", "content", "lang", "repo", F.length("content").alias("nc")
    )
    resp = search(
        spark, small_index, store,
        SearchRequest(
            q="return AND if", k=5,
            facets={"repo": F.col("repo")},
            facet_prefix="org1/", facet_limit=3,
            json_facet=("lang", "repo", 2, 2, "nc"),
        ),
    )
    matches = boolean_matches(
        spark, small_index.blocks, small_index.doclens,
        small_index.dictionary, small_index.stats,
        [("q0", "return AND if", 5)],
    )
    want_f = {
        (r["value"], r["n"])
        for r in facet_counts(
            spark, small_index.blocks, [("q0", ["if", "return"])], store,
            {"repo": F.col("repo")}, match=matches,
            prefix="org1/", limit=3,
        ).collect()
    }
    got_f = {(r["value"], r["n"]) for r in resp.facets.collect()}
    assert got_f == want_f and got_f
    want_j = {
        (r["value1"], r["n1"], r["value2"], r["n2"], r["m2"])
        for r in json_subfacets(
            spark, small_index.blocks, [("q0", ["if", "return"])], store,
            "lang", "repo", 2, 2, metric="nc", match=matches,
        ).collect()
    }
    got_j = {
        (r["value1"], r["n1"], r["value2"], r["n2"], r["m2"])
        for r in resp.json_facets.collect()
    }
    assert got_j == want_j and got_j


def test_json_subfacets_no_metric(spark, small_corpus, small_corpus_pd, small_index):
    out = json_subfacets(
        spark, small_index.blocks, QUERIES,
        small_corpus.select("doc_id", "lang", "repo"),
        "lang", "repo", limit1=1, limit2=2,
    )
    assert out.columns == ["query_id", "value1", "n1", "value2", "n2"]
    rows = out.collect()
    assert rows and len({r["value1"] for r in rows}) == 1
    assert len(rows) <= 2


def test_parse_interval_syntax():
    from spcht_spark.index.facets import parse_interval

    assert parse_interval("[0,100)") == (True, "0", "100", False)
    assert parse_interval("(50,200]") == (False, "50", "200", True)
    assert parse_interval("[*,10]") == (True, None, "10", True)
    assert parse_interval("( a , b )") == (False, "a", "b", False)
    import pytest as _pytest
    for bad in ("0,100", "[0 100]", "[,]", "[0,100"):
        with _pytest.raises(ValueError):
            parse_interval(bad)


def test_interval_facets_string_bounds(spark, small_corpus, small_index):
    """Every closed bound non-numeric -> lexicographic comparison
    (the ISO-8601 / identifier case), same rule as in-q ranges."""
    from spcht_spark.index.facets import interval_facets

    attrs = small_corpus.select("doc_id", "repo")
    got = {
        (r["query_id"], r["interval"]): r["n"]
        for r in interval_facets(
            spark, small_index.blocks, [("q", ["return"])], attrs,
            "repo", ["[org0,org2)", "[org2,*]"],
        ).collect()
    }
    pdf = small_corpus.select("doc_id", "repo", "content").toPandas()
    from spcht_spark.oracle import tokenize_py

    matched = {
        int(r.doc_id): str(r.repo)
        for r in pdf.itertuples()
        if "return" in tokenize_py(r.content)
    }
    lo = sum(1 for v in matched.values() if "org0" <= v < "org2")
    hi = sum(1 for v in matched.values() if v >= "org2")
    assert got[("q", "[org0,org2)")] == lo
    assert got[("q", "[org2,*]")] == hi
    assert lo > 0 and hi > 0


def test_range_facets_hardend_and_others(spark, small_corpus, small_index):
    """hardend=True clips the last bucket at end; before/after/between
    agree with a hand count; bucket labels are the lower bounds."""
    from spcht_spark.index.facets import range_facets
    from spcht_spark.oracle import tokenize_py

    store = small_corpus.withColumn(
        "n_lines", F.size(F.split("content", "\n"))
    )
    got = {
        r["bucket"]: r["n"]
        for r in range_facets(
            spark, small_index.blocks, [("q", ["return"])],
            store.select("doc_id", "n_lines"),
            "n_lines", start=10.0, end=35.0, gap=10.0,
            others=("all",), hardend=True,
        ).collect()
    }
    pdf = small_corpus.select("doc_id", "content").toPandas()
    lines = {
        int(r.doc_id): len(r.content.split("\n"))
        for r in pdf.itertuples()
        if "return" in tokenize_py(r.content)
    }
    assert got["10"] == sum(1 for v in lines.values() if 10 <= v < 20)
    assert got["20"] == sum(1 for v in lines.values() if 20 <= v < 30)
    # hardend: last bucket [30, 35), NOT [30, 40)
    assert got["30"] == sum(1 for v in lines.values() if 30 <= v < 35)
    assert got["before"] == sum(1 for v in lines.values() if v < 10)
    assert got["after"] == sum(1 for v in lines.values() if v >= 35)
    assert got["between"] == sum(1 for v in lines.values() if 10 <= v < 35)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        range_facets(spark, small_index.blocks, [("q", ["return"])],
                     store, "n_lines", 10.0, 5.0, 10.0)


def test_range_facets_float_gap_has_no_drift(spark, small_corpus, small_index):
    """Bucket i starts at start + i·gap: a 0.1 gap over [0, 1) gives
    exactly 10 buckets (accumulating the gap gave an 11th, keyed
    0.9999999999999999)."""
    from spcht_spark.index.facets import range_facets

    store = small_corpus.select("doc_id", (F.col("doc_id") % 10 / 10.0).alias("v"))
    rows = range_facets(
        spark, small_index.blocks, [("q", ["return"])], store, "v",
        start=0.0, end=1.0, gap=0.1,
    ).collect()
    buckets = sorted({r["bucket"] for r in rows}, key=float)
    assert len(buckets) == 10
    assert buckets[0] == "0" and float(buckets[-1]) == pytest.approx(0.9)


def test_string_stats_count_excludes_null_and_absent_values(spark):
    """Solr's stats ``count`` is the matched docs with a value: a doc
    whose value is NULL and a doc with no attrs row both count under
    ``missing`` only."""
    from spcht_spark.index.build import build_index
    from spcht_spark.index.facets import field_stats_string

    corpus = spark.createDataFrame(
        [(0, "alpha"), (1, "alpha"), (2, "alpha"), (3, "alpha beta"), (4, "beta")],
        "doc_id long, content string",
    )
    idx = build_index(spark, corpus, tokenizer="ws", shard_span=8)
    attrs = spark.createDataFrame(
        [(0, "x"), (1, None), (3, "y"), (4, "z")],  # doc 2: no attrs row
        "doc_id long, source string",
    )
    got = field_stats_string(
        spark, idx.blocks, [("q", ["alpha"])], attrs, "source"
    ).collect()
    assert [r.asDict() for r in got] == [
        {"query_id": "q", "n": 2, "min_v": "x", "max_v": "y",
         "n_missing": 2, "n_distinct": 2}
    ]
