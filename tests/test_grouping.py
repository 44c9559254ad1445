"""Result grouping, pivot facets, facet.query (spcht_spark.index.grouping):
engine outputs vs independent pandas / pure-Python-eval_ast oracles,
plus the degenerate group_limit=1 == collapse identity and the edge
cases the driver data never exercises (term-free facet queries, docs
missing from the attrs table, empty base sets zero-filling)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

QUERIES = [
    ("g_ret", ["return", "import"], 3),
    ("g_def", ["def"], 2),
]
GROUP_LIMIT = 2


def _attrs(small_corpus):
    return small_corpus.select("doc_id", "lang", "repo")


def _full_scores(spark, small_index, queries):
    """All (query_id, doc_id, score) candidates via exact_topk with
    k >> corpus — the independently-tested scoring path."""
    from spcht_spark.index.query import exact_topk

    qs = [(qid, ts, 10_000) for qid, ts, _ in queries]
    out = exact_topk(
        spark, small_index.blocks, small_index.doclens,
        small_index.dictionary, small_index.stats, qs,
    )
    return out.select("query_id", "doc_id", "score").toPandas()


def _expected_grouping(scores_pd, attrs_pd, k_map, group_limit):
    """pandas oracle: the engine's determinism contract applied by hand."""
    df = scores_pd.merge(attrs_pd, on="doc_id")
    df["grp"] = df["lang"].astype(str)
    df["key6"] = df["score"].round(6)
    df = df.sort_values(
        ["query_id", "grp", "key6", "doc_id"],
        ascending=[True, True, False, True],
    )
    df["doc_rank"] = df.groupby(["query_id", "grp"]).cumcount() + 1
    df["grp_n"] = df.groupby(["query_id", "grp"])["doc_id"].transform("size")
    heads = df[df["doc_rank"] == 1].sort_values(
        ["query_id", "key6", "doc_id"], ascending=[True, False, True]
    )
    heads = heads.assign(grp_rank=heads.groupby("query_id").cumcount() + 1)
    keep = heads[
        heads["grp_rank"] <= heads["query_id"].map(k_map)
    ][["query_id", "grp", "grp_rank"]]
    out = df.merge(keep, on=["query_id", "grp"])
    out = out[out["doc_rank"] <= group_limit]
    out["score"] = out["score"].round(4)
    return out[
        ["query_id", "grp_rank", "grp", "grp_n", "doc_rank", "doc_id", "score"]
    ].sort_values(["query_id", "grp_rank", "doc_rank"]).reset_index(drop=True)


def test_group_topk_vs_pandas_oracle(spark, small_index, small_corpus):
    from spcht_spark.index.grouping import group_topk

    got = group_topk(
        spark, small_index.blocks, small_index.doclens,
        small_index.dictionary, small_index.stats,
        _attrs(small_corpus), "lang", QUERIES, group_limit=GROUP_LIMIT,
    ).toPandas().sort_values(
        ["query_id", "grp_rank", "doc_rank"]
    ).reset_index(drop=True)

    scores = _full_scores(spark, small_index, QUERIES)
    attrs_pd = _attrs(small_corpus).toPandas()
    exp = _expected_grouping(
        scores, attrs_pd, {q: k for q, _, k in QUERIES}, GROUP_LIMIT
    )
    assert len(got) == len(exp)
    for col in ["query_id", "grp_rank", "grp", "grp_n", "doc_rank", "doc_id"]:
        assert got[col].tolist() == exp[col].tolist(), col
    assert (got["score"] - exp["score"]).abs().max() < 1e-9


def test_group_limit_1_equals_collapse(spark, small_index, small_corpus):
    from spcht_spark.index.collapse import collapse_topk
    from spcht_spark.index.grouping import group_topk

    attrs = _attrs(small_corpus)
    g = group_topk(
        spark, small_index.blocks, small_index.doclens,
        small_index.dictionary, small_index.stats,
        attrs, "repo", QUERIES, group_limit=1,
    ).toPandas().sort_values(["query_id", "grp_rank"]).reset_index(drop=True)
    c = collapse_topk(
        spark, small_index.blocks, small_index.doclens,
        small_index.dictionary, small_index.stats,
        attrs, "repo", QUERIES,
    ).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert g["doc_id"].tolist() == c["doc_id"].tolist()
    assert g["grp_rank"].tolist() == c["rank"].tolist()
    assert g["grp"].tolist() == c["grp"].tolist()
    assert (g["doc_rank"] == 1).all()


def test_pivot_facets_vs_pandas(spark, small_index, small_corpus):
    from spcht_spark.index.facets import matching_docs
    from spcht_spark.index.grouping import PIVOT_ALL, pivot_facets

    queries = [(q, ts) for q, ts, _ in QUERIES]
    attrs = _attrs(small_corpus)
    got = pivot_facets(
        spark, small_index.blocks, queries, attrs, "lang", "repo"
    ).toPandas()

    m = matching_docs(spark, small_index.blocks, queries).toPandas()
    j = m.merge(attrs.toPandas(), on="doc_id")
    leaf = (
        j.groupby(["query_id", "lang", "repo"]).size().reset_index(name="n")
    )
    parent = j.groupby(["query_id", "lang"]).size().reset_index(name="n")
    parent["repo"] = PIVOT_ALL
    exp = pd.concat([leaf, parent], ignore_index=True).rename(
        columns={"lang": "value1", "repo": "value2"}
    )
    key = ["query_id", "value1", "value2"]
    got_s = got.sort_values(key).reset_index(drop=True)
    exp_s = exp[got.columns.tolist()].sort_values(key).reset_index(drop=True)
    assert got_s["n"].astype(int).tolist() == exp_s["n"].astype(int).tolist()
    assert got_s[key].values.tolist() == exp_s[key].values.tolist()


def test_facet_query_counts_vs_eval_ast(
    spark, small_index, small_corpus, small_corpus_pd
):
    """Independent oracle: pure-Python eval_ast per (doc, facet query)
    over the base universe — including a term-free NOT query, a pure
    range, and docs MISSING from the attrs table (predicate must treat
    their fields as absent, never three-valued-NULL-drop them)."""
    from spcht_spark.index.boolean import eval_ast, parse_query
    from spcht_spark.index.facets import matching_docs
    from spcht_spark.index.grouping import facet_query_counts
    from spcht_spark.oracle import tokenize_py

    facet_queries = {
        "fq_term": "return AND def",
        "fq_not": "NOT def",
        "fq_range": "n_chars:[0 TO 800]",
        "fq_eq_missing": "lang:python",
    }
    queries = [(q, ts) for q, ts, _ in QUERIES]
    # attrs table deliberately missing half the docs
    attrs = small_corpus.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "lang", F.length("content").cast("long").alias("n_chars")
    )
    got = facet_query_counts(
        spark, small_index.blocks, small_index.doclens,
        small_index.dictionary, small_index.stats,
        queries, facet_queries, attrs=attrs,
    ).toPandas()

    base = matching_docs(spark, small_index.blocks, queries).toPandas()
    doc_terms = {
        int(d): frozenset(tokenize_py(c))
        for d, c in zip(small_corpus_pd["doc_id"], small_corpus_pd["content"])
    }
    attrs_pd = attrs.toPandas().set_index("doc_id").to_dict("index")
    parsed = {
        n: parse_query(s, require_positive=False)
        for n, s in facet_queries.items()
    }
    for name, ast in parsed.items():
        for qid in [q for q, _ in queries]:
            docs = base[base["query_id"] == qid]["doc_id"]
            exp_n = sum(
                eval_ast(ast, doc_terms.get(d, frozenset()), attrs_pd.get(d))
                for d in docs
            )
            got_n = got[(got["query_id"] == qid) & (got["facet"] == name)][
                "n"
            ].iloc[0]
            assert int(got_n) == int(exp_n), (name, qid)


def test_facet_query_zero_fill_on_empty_base(spark, small_index):
    from spcht_spark.index.grouping import facet_query_counts

    got = facet_query_counts(
        spark, small_index.blocks, small_index.doclens,
        small_index.dictionary, small_index.stats,
        [("q_none", ["zzz_not_a_term"])], {"f1": "return", "f2": "NOT return"},
    ).toPandas()
    assert len(got) == 2
    assert got["n"].tolist() == [0, 0]


def test_pivot3_vs_pandas(spark, small_index, small_corpus):
    """n-level generalization: 3 fields, one ROLLUP pass — leaves plus
    BOTH subtotal levels (tail PIVOT_ALL) match a pandas recompute."""
    from spcht_spark.index.facets import matching_docs
    from spcht_spark.index.grouping import PIVOT_ALL, pivot_facets

    queries = [(q, ts) for q, ts, _ in QUERIES]
    attrs = small_corpus.select(
        "doc_id", "lang", "repo",
        (F.col("doc_id") % 3).cast("string").alias("band"),
    )
    got = pivot_facets(
        spark, small_index.blocks, queries, attrs, "lang", "repo", "band"
    ).toPandas()

    m = matching_docs(spark, small_index.blocks, queries).toPandas()
    j = m.merge(attrs.toPandas(), on="doc_id").rename(
        columns={"lang": "value1", "repo": "value2", "band": "value3"}
    )
    leaf = (
        j.groupby(["query_id", "value1", "value2", "value3"])
        .size().reset_index(name="n")
    )
    sub2 = j.groupby(["query_id", "value1", "value2"]).size().reset_index(name="n")
    sub2["value3"] = PIVOT_ALL
    sub1 = j.groupby(["query_id", "value1"]).size().reset_index(name="n")
    sub1["value2"] = PIVOT_ALL
    sub1["value3"] = PIVOT_ALL
    exp = pd.concat([leaf, sub2, sub1], ignore_index=True)
    key = ["query_id", "value1", "value2", "value3"]
    got_s = got.sort_values(key).reset_index(drop=True)
    exp_s = exp[got.columns.tolist()].sort_values(key).reset_index(drop=True)
    assert got_s[key].values.tolist() == exp_s[key].values.tolist()
    assert got_s["n"].astype(int).tolist() == exp_s["n"].astype(int).tolist()


def test_ngroups_vs_pandas(spark, small_index, small_corpus):
    """group.ngroups: every output row carries the TOTAL distinct-group
    count of the query's matching set (not the returned top-k)."""
    from spcht_spark.index.grouping import group_topk

    attrs = _attrs(small_corpus)
    got = group_topk(
        spark, small_index.blocks, small_index.doclens,
        small_index.dictionary, small_index.stats,
        attrs, "repo", QUERIES, group_limit=GROUP_LIMIT, ngroups=True,
    ).toPandas()

    scores = _full_scores(spark, small_index, QUERIES)
    j = scores.merge(attrs.toPandas(), on="doc_id")
    exp_ng = j.groupby("query_id")["repo"].nunique().to_dict()
    assert set(got["query_id"]) == set(exp_ng)
    for qid, grp in got.groupby("query_id"):
        assert (grp["ngroups"] == exp_ng[qid]).all(), qid
    # the ngroups column is the ONLY difference vs ngroups=False
    base = group_topk(
        spark, small_index.blocks, small_index.doclens,
        small_index.dictionary, small_index.stats,
        attrs, "repo", QUERIES, group_limit=GROUP_LIMIT,
    ).toPandas()
    key = ["query_id", "grp_rank", "doc_rank"]
    a = got.drop(columns=["ngroups"]).sort_values(key).reset_index(drop=True)
    b = base.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
