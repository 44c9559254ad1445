"""Search facade: one request, consistent components."""

from __future__ import annotations

import json
from collections import Counter

import pytest
from pyspark.sql import functions as F

from spcht_spark.index.boolean import eval_ast, parse_query
from spcht_spark.index.search import SearchRequest, search
from spcht_spark.oracle import tokenize_py
from spcht_spark.plans.indexer import load_index

Q = "(return AND if) OR -import AND while"


def _match_set(pdf, q, allowed=None):
    ast = parse_query(q)
    out = set()
    for r in pdf.itertuples():
        d = int(r.doc_id)
        if allowed is not None and d not in allowed:
            continue
        present = frozenset(tokenize_py(r.content))
        # restrict to query terms like the engine's term-set grouping
        from spcht_spark.index.boolean import ast_terms

        present = frozenset(t for t in ast_terms(ast) if t in present)
        if present and eval_ast(ast, present):
            out.add(d)
    return out


def test_components_share_the_boolean_match_set(
    spark, small_corpus_pd, small_corpus, small_index
):
    allowed = {
        int(r.doc_id) for r in small_corpus_pd.itertuples() if int(r.doc_id) % 2 == 0
    }
    fq = small_corpus.filter(F.col("doc_id") % 2 == 0).select("doc_id")
    resp = search(
        spark, small_index, small_corpus,
        SearchRequest(
            q=Q, k=7, fq=fq, fl=["lang"],
            facets={"lang": F.col("lang")},
            stats_field="n_lines" if "n_lines" in small_corpus.columns else None,
            hl=True, hl_window=2,
        ),
    )
    expected = _match_set(small_corpus_pd, Q, allowed=allowed)
    hits = resp.hits.collect()
    assert 0 < len(hits) <= 7
    assert {r["doc_id"] for r in hits} <= expected
    # fl joined, snippet attached and wraps a query term
    for r in hits:
        assert r["lang"] is not None
        assert r["snippet"] is None or "<em>" in r["snippet"]
    # facet counts cover exactly the boolean ∧ fq match set
    langs = {int(r.doc_id): r.lang for r in small_corpus_pd.itertuples()}
    exp_counts = Counter(langs[d] for d in expected)
    got_counts = {r["value"]: r["n"] for r in resp.facets.collect()}
    assert got_counts == dict(exp_counts)


def test_grouping_components_share_the_match_set(
    spark, small_corpus_pd, small_corpus, small_index
):
    """group=true / facet.pivot / facet.query compose with the boolean
    q in ONE request and all read the same admissible set."""
    resp = search(
        spark, small_index, small_corpus,
        SearchRequest(
            q=Q, k=3,
            facet_queries={"fq_def": "def", "fq_nodef": "NOT def"},
            facet_pivot=("lang", "repo"),
            group_field="repo", group_limit=2,
        ),
    )
    expected = _match_set(small_corpus_pd, Q)
    pdf = small_corpus_pd.set_index("doc_id")

    # facet.query: the two complementary predicates partition the DocSet
    fq = {r["facet"]: r["n"] for r in resp.facet_query.collect()}
    n_def = sum(
        1 for d in expected if "def" in tokenize_py(pdf.loc[d, "content"])
    )
    assert fq == {"fq_def": n_def, "fq_nodef": len(expected) - n_def}

    # pivot: leaf rows sum to the subtotals, subtotals sum to |DocSet|
    piv = resp.pivot.collect()
    subtotals = {r["value1"]: r["n"] for r in piv if r["value2"] == "*"}
    leaves = Counter()
    for r in piv:
        if r["value2"] != "*":
            leaves[r["value1"]] += r["n"]
    assert dict(leaves) == subtotals
    assert sum(subtotals.values()) == len(expected)
    exp_langs = Counter(pdf.loc[d, "lang"] for d in expected)
    assert subtotals == dict(exp_langs)

    # groups: member docs are admissible, ranks within limits, grp_n
    # counts the group's FULL match set
    grows = resp.groups.collect()
    assert grows and all(r["doc_id"] in expected for r in grows)
    assert all(r["doc_rank"] <= 2 and r["grp_rank"] <= 3 for r in grows)
    exp_repo = Counter(pdf.loc[d, "repo"] for d in expected)
    for r in grows:
        assert r["grp_n"] == exp_repo[r["grp"]]


def test_facet_request_ranks_unsalted_below_the_salt_gate(
    spark, small_corpus, small_index
):
    """A facet request ranks its shared match set with the corpus size
    its one stats/idf job proved: below SALT_MIN_DOCS the hits plan has
    no salt pre-window, and the page equals the salted ranking of the
    same match set (boolean_matches + topk without n_docs)."""
    from spcht_spark.index.boolean import boolean_matches
    from spcht_spark.index.query import SALT_MIN_DOCS, topk

    q, k = "return OR import", 10
    assert small_index.stats.collect()[0]["n_docs"] < SALT_MIN_DOCS
    resp = search(
        spark, small_index, small_corpus,
        SearchRequest(q=q, k=k, facets={"lang": F.col("lang")}),
    )
    plan = resp.hits._jdf.queryExecution().analyzed().toString()
    assert "pmod(xxhash64(" not in plan
    salted = topk(
        boolean_matches(
            spark, small_index.blocks, small_index.doclens,
            small_index.dictionary, small_index.stats, [("q0", q, k)],
        ),
        {"q0": k},
    ).where(f"rank <= {k}")
    assert "pmod(xxhash64(" in salted._jdf.queryExecution().analyzed().toString()
    rows = lambda df: sorted(
        tuple(r) for r in df.select("query_id", "rank", "doc_id", "score").collect()
    )
    assert len(rows(resp.hits)) == k
    assert rows(resp.hits) == rows(salted)
    assert resp.facets.collect()


def test_cli_search_verb(spark, tmp_path):
    from spcht_spark.cli import main as cli_main
    from spcht_spark.corpus import generate_corpus

    wd = str(tmp_path / "order")
    corpus_path = str(tmp_path / "corpus.parquet")
    generate_corpus(spark, n_docs=120, partitions=4).write.parquet(corpus_path)
    rc = cli_main([
        "full-order", wd, "--corpus-parquet", corpus_path, "--shard-span", "64",
    ])
    assert rc == 0
    rc = cli_main([
        "search", wd, "return AND if", "-k", "5",
        "--doc-store", corpus_path, "--fl", "lang", "--facet", "lang", "--hl",
        "--facet-query", "has_def=def", "nodef=NOT def",
        "--facet-pivot", "lang,repo",
        "--group-field", "repo", "--group-limit", "2",
    ])
    assert rc == 0
    # post-processors + JSON facet + synonyms in one request
    rc = cli_main([
        "search", wd, "return", "-k", "5",
        "--doc-store", corpus_path,
        "--synonym", "return=if",
        "--rerank", "def,10,2.0",
        "--facet", "repo", "--facet-prefix", "org1/", "--facet-limit", "3",
        "--json-facet", "lang,repo,2,2",
    ])
    assert rc == 0
    # round-5 flags: q.op, group.sort, interval facets in one request
    rc = cli_main([
        "search", wd, "return import", "-k", "5", "--q-op", "AND",
        "--doc-store", corpus_path,
        "--group-field", "repo", "--group-limit", "2",
        "--group-sort", "path asc",
        "--facet-interval", "doc_id=[0,60)", "--facet-interval", "doc_id=[60,*]",
    ])
    assert rc == 0
    import pytest as _pytest
    with _pytest.raises(SystemExit):
        cli_main(["search", wd, "return", "--doc-store", corpus_path,
                  "--group-field", "repo", "--group-sort", "path sideways"])
    with _pytest.raises(SystemExit):
        cli_main(["search", wd, "return", "--doc-store", corpus_path,
                  "--facet-interval", "oops-no-equals"])
    with _pytest.raises(SystemExit):
        cli_main(["search", wd, "return", "--doc-store", corpus_path,
                  "--facet-interval", "a=[0,1)", "--facet-interval", "b=[0,1)"])
    # malformed component specs exit 2 with a friendly message
    assert cli_main(["search", wd, "return", "--facet-query", "oops"]) == 2
    assert cli_main(["search", wd, "return", "--facet-pivot", "lang"]) == 2
    assert cli_main(["search", wd, "return", "--rerank", "noarity"]) == 2
    assert cli_main(["search", wd, "return", "--synonym", "oops"]) == 2
    assert cli_main(
        ["search", wd, "return", "--json-facet", "lang,repo,2"]
    ) == 2


def test_deep_pivot_and_ngroups_in_one_request(
    spark, small_corpus_pd, small_corpus, small_index
):
    """Round-5 facade additions: facet.pivot at depth 3 and
    group.ngroups ride the same shared match pass."""
    from pyspark.sql import functions as F

    corpus3 = small_corpus.withColumn(
        "band", (F.col("doc_id") % 2).cast("string")
    )
    resp = search(
        spark, small_index, corpus3,
        SearchRequest(
            q=Q, k=3,
            facet_pivot=("lang", "repo", "band"),
            group_field="repo", group_limit=2, group_ngroups=True,
        ),
    )
    expected = _match_set(small_corpus_pd, Q)
    pdf = small_corpus_pd.set_index("doc_id")

    piv = resp.pivot.collect()
    assert {len(r) for r in piv} == {5}  # query_id, v1, v2, v3, n
    # level-3 leaves sum up to their (v1, v2) subtotal rows
    l2 = Counter()
    sub2 = {}
    for r in piv:
        if r["value2"] == "*":
            continue
        if r["value3"] == "*":
            sub2[(r["value1"], r["value2"])] = r["n"]
        else:
            l2[(r["value1"], r["value2"])] += r["n"]
    assert dict(l2) == sub2 and sub2

    grows = resp.groups.collect()
    exp_ngroups = len({pdf.loc[d, "repo"] for d in expected})
    assert grows and all(r["ngroups"] == exp_ngroups for r in grows)


def test_group_sort_and_interval_facets(
    spark, small_corpus_pd, small_corpus, small_index
):
    """group.sort orders docs within groups by the attr (asc, NULLS
    LAST) while groups still rank by best relevance doc; interval
    facet counts match a hand count over the same admissible set."""
    store = small_corpus.withColumn(
        "n_lines", F.size(F.split("content", "\n"))
    )
    resp = search(
        spark, small_index, store,
        SearchRequest(
            q="return import", k=3,
            group_field="repo", group_limit=3,
            group_sort=("n_lines", False),
            facet_interval=("n_lines", ["[0,30)", "[30,*]", "[*,40]"]),
        ),
    )
    groups = resp.groups.collect()
    assert groups
    lines = {
        int(r.doc_id): len(r.content.split("\n"))
        for r in small_corpus_pd.itertuples()
    }
    # within each group: n_lines ascending, doc_id tiebreak
    bygrp = {}
    for r in sorted(groups, key=lambda r: (r["grp"], r["doc_rank"])):
        bygrp.setdefault(r["grp"], []).append(r["doc_id"])
    for grp, ids in bygrp.items():
        keys = [(lines[d], d) for d in ids]
        assert keys == sorted(keys), (grp, keys)
    # interval counts vs hand count over the same matching docs
    matched = _match_set(small_corpus_pd, "return import")
    want = {
        "[0,30)": sum(1 for d in matched if lines[d] < 30),
        "[30,*]": sum(1 for d in matched if lines[d] >= 30),
        "[*,40]": sum(1 for d in matched if lines[d] <= 40),
    }
    got = {r["interval"]: r["n"] for r in resp.intervals.collect()}
    assert got == want


def test_term_vectors_refuse_a_manifest_without_tokenizer(spark, small_index, tmp_path):
    """Term vectors re-tokenize stored content, so an index whose
    manifest records no tokenizer is refused before any work, as the
    delta path refuses it; no tokenizer is guessed."""
    for name in ("doclens", "dictionary", "stats", "blocks"):
        getattr(small_index, name).write.parquet(str(tmp_path / name))
    (tmp_path / "manifest.json").write_text(
        json.dumps({"params": {"shard_span": small_index.shard_span}})
    )
    idx = load_index(spark, str(tmp_path))
    assert idx.tokenizer is None
    store = spark.createDataFrame([(1, "return x")], ["doc_id", "content"])
    with pytest.raises(ValueError, match="tokenizer"):
        search(spark, idx, store, SearchRequest(q="return", k=3, tv=True))
