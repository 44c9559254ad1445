"""Round-4 contracts: analyzer unification (index build == query parse),
NOT-over-missing-attr agreement across all three evaluators, and the
hits-only pruned routing of boolean_topk (WAND/AND == full decode).
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from spcht_spark.index.boolean import (
    ast_to_duckdb,
    ast_to_spark_sql,
    boolean_topk,
    eval_ast,
    parse_query,
)
from spcht_spark.index.build import build_index
from spcht_spark.index.query import exact_topk


MIXED = [
    (0, "Return value from Handler"),
    (1, "return value from handler"),
    (2, "Return Return return loop"),
    (3, "loop body only"),
]


@pytest.fixture(scope="module")
def mixed_corpus(spark):
    return spark.createDataFrame(MIXED, ["doc_id", "content"]).cache()


@pytest.fixture(scope="module")
def mixed_index(spark, mixed_corpus):
    return build_index(spark, mixed_corpus, tokenizer="ws", shard_span=2)


@pytest.fixture(scope="module")
def folded_index(spark, mixed_corpus):
    return build_index(
        spark, mixed_corpus, tokenizer="ws", shard_span=2, analyzer="lowercase"
    )


def _hits(df):
    return {r["doc_id"] for r in df.collect()}


def test_case_preserving_boolean_equals_exact(spark, mixed_index):
    """Default analyzer: `Return` and `return` are DIFFERENT terms, and
    the boolean path agrees with the exact path on both (round-3
    VERDICT "What's wrong" #1: the parser used to lowercase silently,
    so the two APIs disagreed on any uppercase query)."""
    idx = mixed_index
    for term, expected in [("Return", {0, 2}), ("return", {1, 2})]:
        b = boolean_topk(
            spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats,
            [("q", term, 10)],
        )
        e = exact_topk(
            spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats,
            [("q", [term], 10)],
        )
        assert _hits(b) == _hits(e) == expected, term


def test_lowercase_analyzer_build_and_parse_agree(spark, folded_index):
    """analyzer='lowercase' at build + parse: `Return` ≡ `return`,
    both match every doc containing either casing."""
    idx = folded_index
    assert idx.analyzer == "lowercase"
    for q in ("Return", "return", "RETURN"):
        b = boolean_topk(
            spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats,
            [("q", q, 10)], analyzer=idx.analyzer,
        )
        assert _hits(b) == {0, 1, 2}, q


def test_prune_routing_rank_identical(
    spark, small_index, committed_small_index, monkeypatch
):
    """Flat OR routes to WAND, flat AND to the skipping AND path — both
    must return the exact rows (score bit-identical) of the full
    matching-set decode they replace. The same corpus committed and
    reopened with load_index takes its idfs from the driver-side lookup
    on every route and returns the same rows as the in-memory index."""
    from spcht_spark.index import query

    queries = [
        ("flat_or", "return while let", 12),
        ("flat_and", "return AND if", 12),
        ("single", "import", 12),
        ("mixed", "(def AND class) OR while", 12),  # stays on full path
    ]
    key = lambda rows: sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in rows
    )
    got = []
    for idx in (small_index, committed_small_index):
        if idx is committed_small_index:
            def no_job(*a):
                raise AssertionError("committed index ran the stats/idf job")

            monkeypatch.setattr(query, "_job_stats_dfs", no_job)
        pruned = boolean_topk(
            spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats, queries,
        ).collect()
        full = boolean_topk(
            spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats, queries,
            prune=False,
        ).collect()
        assert key(pruned) == key(full)
        got.append(key(pruned))
    assert got[0] == got[1]


def test_prune_routing_with_doc_filter(spark, small_index, small_corpus):
    idx = small_index
    doc_filter = small_corpus.filter(F.col("doc_id") % 3 == 0).select("doc_id")
    queries = [("f_or", "return while", 8), ("f_and", "return AND if", 8)]
    pruned = boolean_topk(
        spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats, queries,
        doc_filter=doc_filter, shard_span=64,
    ).collect()
    full = boolean_topk(
        spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats, queries,
        doc_filter=doc_filter, prune=False,
    ).collect()
    key = lambda rows: sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in rows
    )
    assert key(pruned) == key(full)
    assert all(r["doc_id"] % 3 == 0 for r in pruned)


# ---------------------------------------- NOT over missing attributes

ATTR_DOCS = [
    (0, "hash map impl", "en"),
    (1, "hash set impl", "zh"),
    (2, "hash ring impl", None),   # NULL lang
]


def test_not_missing_attr_all_evaluators_agree(spark):
    """`hash AND NOT lang:zh` must MATCH a doc whose lang is NULL or
    missing (Solr `-lang:zh` absence semantics) — in the Python
    reference evaluator, the Spark SQL predicate, and the DuckDB twin
    (ADVICE r3, medium)."""
    ast = parse_query("hash AND NOT lang:zh")

    # 1. reference evaluator
    assert eval_ast(ast, frozenset({"hash"}), {"lang": "en"})
    assert not eval_ast(ast, frozenset({"hash"}), {"lang": "zh"})
    assert eval_ast(ast, frozenset({"hash"}), {})          # missing field
    assert eval_ast(ast, frozenset({"hash"}), {"lang": None})

    # 2. Spark SQL: build candidates with a NULL-lang row
    cand = spark.createDataFrame(
        [(d, ["hash"], lang) for d, _c, lang in ATTR_DOCS],
        "doc_id long, present array<string>, lang string",
    )
    got = {
        r["doc_id"]
        for r in cand.where(ast_to_spark_sql(ast, "present")).collect()
    }
    assert got == {0, 2}

    # 3. DuckDB twin on the same rows
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE d AS SELECT * FROM (VALUES "
        "(0, ['hash'], 'en'), (1, ['hash'], 'zh'), (2, ['hash'], NULL)"
        ") t(doc_id, terms, lang)"
    )
    sql = ast_to_duckdb(ast, terms_expr="terms", attr_prefix="d.")
    want = {r[0] for r in con.execute(f"SELECT doc_id FROM d WHERE {sql}").fetchall()}
    assert want == {0, 2}

    # `lang:[* TO *]` (Solr: the field has a value) skips the NULL row
    every = parse_query("hash AND lang:[* TO *]")
    assert [
        eval_ast(every, frozenset({"hash"}), {"lang": lang}) for _, _, lang in ATTR_DOCS
    ] == [True, True, False]
    got = {r["doc_id"] for r in cand.where(ast_to_spark_sql(every)).collect()}
    sql = ast_to_duckdb(every, terms_expr="terms", attr_prefix="d.")
    want = {r[0] for r in con.execute(f"SELECT doc_id FROM d WHERE {sql}").fetchall()}
    assert got == want == {0, 1}


def test_not_missing_attr_engine_end_to_end(spark):
    corpus = spark.createDataFrame(
        [(d, c) for d, c, _l in ATTR_DOCS], ["doc_id", "content"]
    )
    attrs = spark.createDataFrame(
        [(d, l) for d, _c, l in ATTR_DOCS], "doc_id long, lang string"
    )
    idx = build_index(spark, corpus, tokenizer="ws", shard_span=8)
    got = boolean_topk(
        spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats,
        [("q", "hash AND NOT lang:zh", 10)], attrs=attrs,
    )
    assert _hits(got) == {0, 2}
