"""Analyzer chain (lowercase / stop / sstem): the three forms (pure
Python, pandas, SQL text — the last evaluated by both Spark and DuckDB)
must be identical, and the chain must apply the same way at index build
and query parse.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from spcht_spark.index.analyze import (
    STOPWORDS,
    fold_token_py,
    fold_token_sql,
    fold_tokens_pd,
    parse_analyzer,
)
from spcht_spark.index.build import build_index

SPEC = "lowercase,stop,sstem"

VOCAB = [
    # sstem rule arms + exceptions
    "libraries", "ties", "eies", "aies", "monies",
    "churches", "goes", "trees", "aes", "canoes", "classes",
    "days", "glass", "bus", "windows", "is",
    # stopwords + plain terms + identifiers
    "the", "of", "and", "return", "handler7", "x",
]

EXPECT = {
    "libraries": "library", "ties": "ty", "eies": "eies", "aies": "aies",
    "monies": "mony", "churches": "churche", "goes": "goes",
    "trees": "trees", "aes": "aes", "canoes": "canoes", "classes": "classe",
    "days": "day", "glass": "glass", "bus": "bus", "windows": "window",
    "is": None, "the": None, "of": None, "and": None,
    "return": "return", "handler7": "handler7", "x": "x",
}


def test_parse_analyzer_validates():
    assert parse_analyzer(None) == []
    assert parse_analyzer("lowercase") == ["lowercase"]
    assert parse_analyzer("lowercase,stop,sstem") == ["lowercase", "stop", "sstem"]
    with pytest.raises(ValueError):
        parse_analyzer("porter")


def test_python_twin_expected_values():
    got = {t: fold_token_py(t, SPEC) for t in VOCAB}
    assert got == EXPECT


def test_pandas_twin_matches_python():
    s = fold_tokens_pd(pd.Series(VOCAB), SPEC)
    got = {t: (None if pd.isna(v) else v) for t, v in zip(VOCAB, s)}
    assert got == EXPECT


def test_catalyst_twin_matches_python(spark):
    """The SQL form evaluated by Spark, over the stemmer's edge cases
    (``s`` stems to the empty string; the empty token stays empty)."""
    vocab = [*VOCAB, "s", "toes", ""]
    expect = {**EXPECT, "s": "", "toes": "toes", "": ""}
    df = spark.createDataFrame([(t,) for t in vocab], ["term"])
    rows = df.selectExpr(
        "term", f"{fold_token_sql('term', SPEC)} AS folded"
    ).collect()
    got = {r["term"]: r["folded"] for r in rows}
    assert got == expect
    assert {t: fold_token_py(t, SPEC) for t in vocab} == expect


def test_duckdb_twin_matches_python():
    con = duckdb.connect()
    vals = ", ".join(f"('{t}')" for t in VOCAB)
    expr = fold_token_sql("term", SPEC)
    rows = con.execute(
        f"SELECT term, {expr} FROM (VALUES {vals}) t(term)"
    ).fetchall()
    got = {t: v for t, v in rows}
    assert got == EXPECT


def test_stopwords_have_no_postings_after_analyzed_build(spark):
    corpus = spark.createDataFrame(
        [
            (0, "The Libraries of the cities"),
            (1, "libraries and windows"),
            (2, "window handler7 glass"),
        ],
        ["doc_id", "content"],
    )
    idx = build_index(spark, corpus, tokenizer="ws", shard_span=8, analyzer=SPEC)
    vocab = {r["term"] for r in idx.dictionary.select("term").collect()}
    assert vocab.isdisjoint(set(STOPWORDS))
    # plural/singular + case all merged: 'Libraries'/'libraries'→'library'
    assert "library" in vocab and "libraries" not in vocab
    assert "window" in vocab and "windows" not in vocab
    dfs = {r["term"]: r["df"] for r in idx.dictionary.collect()}
    assert dfs["library"] == 2
    assert dfs["window"] == 2
    # doc length counts only emitted tokens (stopwords removed)
    dls = {r["doc_id"]: r["dl"] for r in idx.doclens.collect()}
    assert dls[0] == 2  # The/of/the removed → libraries, cities


def test_query_parse_folds_with_chain(spark):
    from spcht_spark.index.boolean import boolean_topk, parse_query

    assert parse_query("Windows AND Libraries", analyzer=SPEC) == (
        "and", [("term", "window"), ("term", "library")]
    )
    corpus = spark.createDataFrame(
        [(0, "the windows library"), (1, "glass door")], ["doc_id", "content"]
    )
    idx = build_index(spark, corpus, tokenizer="ws", shard_span=8, analyzer=SPEC)
    got = boolean_topk(
        spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats,
        [("q", "Windows AND Libraries", 5)], analyzer=idx.analyzer,
    ).collect()
    assert [r["doc_id"] for r in got] == [0]


def test_positional_rejects_token_steps(spark):
    from spcht_spark.index.phrase import build_positional_index

    corpus = spark.createDataFrame([(0, "a b c")], ["doc_id", "content"])
    with pytest.raises(ValueError, match="positional"):
        build_positional_index(spark, corpus, mode="ws", analyzer=SPEC)


def test_arrow_and_jvm_tokenizers_agree_with_analyzer(spark, small_corpus):
    """The Arrow (pandas-twin) and Catalyst (Column-twin) token-filter
    paths must produce identical (doc_id, term, tf, dl) streams."""
    from catalyst_tokens import tokens_catalyst
    from spcht_spark.index.tokenize import tokens

    corpus = small_corpus.limit(60).select(
        "doc_id", F.lower("content").alias("content")
    )
    a = tokens(corpus, "arrow", SPEC).orderBy("doc_id", "term").toPandas()
    j = tokens_catalyst(corpus, "arrow", SPEC).orderBy("doc_id", "term").toPandas()
    assert a.equals(j)


def test_ws_tokens_with_analyzer_match_catalyst(spark, small_corpus):
    """The ws + stop/sstem route runs the Arrow batch inversion; it must
    equal the Catalyst split(' ') shape row for row — including a doc
    whose tokens are all stopwords (no rows, hence no doclens row) and
    the token 's', which stems to the empty string and is kept."""
    from catalyst_tokens import tokens_catalyst
    from spcht_spark.index.tokenize import tokens

    edge = spark.createDataFrame(
        [(10**6, "the and of a"), (10**6 + 1, "s  goes s's flies x")],
        "doc_id long, content string",
    )
    corpus = small_corpus.limit(60).select(
        "doc_id", F.lower("content").alias("content")
    ).unionByName(edge)
    a = tokens(corpus, "ws", SPEC).orderBy("doc_id", "term").toPandas()
    j = tokens_catalyst(corpus, "ws", SPEC).orderBy("doc_id", "term").toPandas()
    assert a.equals(j)
    assert 10**6 not in set(a["doc_id"])
    assert ((a["doc_id"] == 10**6 + 1) & (a["term"] == "")).any()
