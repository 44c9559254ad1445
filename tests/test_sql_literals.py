"""Property test: the SQL literal renderers round-trip any string.

Spark's SQL parser treats ``\\`` as an escape character inside string
literals, ``'`` closes them, and ``spark.sql``'s argument templating
reads ``{`` / ``}``. Code tokens and user queries carry all of these,
plus non-ASCII text, so every renderer that embeds a string in SQL text
(:func:`sql_str`, :func:`values_df`, :func:`sql_in`, :func:`sql_map`)
must give back exactly the string it was handed.

The end-to-end tests below hold the engine to the same rule: terms with
backslashes score bit-exactly through every query path, and empty id
lists give empty results instead of an ``IN ()`` parse error."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from spcht_spark.index.boolean import boolean_topk
from spcht_spark.index.build import build_index
from spcht_spark.index.query import (
    TOPK_SCHEMA,
    exact_topk,
    sql_esc,
    sql_in,
    sql_map,
    sql_str,
    values_df,
)
from spcht_spark.index.wand import wand_topk
from spcht_spark.oracle import Bm25Oracle

SPECIAL = ["\\", "'", '"', "{", "}", "\\'", "''", "\\\\", "\\n", "\\u0041", "é", "中", "😀"]

text_st = st.lists(
    st.one_of(
        st.sampled_from(SPECIAL),
        st.characters(min_codepoint=32, blacklist_categories=("Cs",)),
    ),
    max_size=8,
).map("".join)


@given(st.lists(text_st, min_size=1, max_size=6))
@settings(max_examples=40, deadline=None)
def test_string_literals_round_trip(spark, strings):
    row = spark.sql(
        f"SELECT array({', '.join(sql_str(s) for s in strings)}) AS lits, "
        f"array({sql_in(strings)}) AS ins"
    ).collect()[0]
    assert list(row["lits"]) == strings
    assert list(row["ins"]) == strings

    keys = sorted(set(strings))
    m = spark.sql(f"SELECT {sql_map([(k, k) for k in keys], sql_str)} AS m")
    assert m.collect()[0]["m"] == {k: k for k in keys}
    # the templated path (spark.sql with frame arguments) needs sql_esc
    templated = spark.sql(
        f"SELECT {sql_esc(sql_map([(k, k) for k in keys], sql_str))} AS m "
        "FROM {t}",
        t=spark.range(1),
    )
    assert templated.collect()[0]["m"] == {k: k for k in keys}

    rows = [(i, s) for i, s in enumerate(strings)]
    vdf = values_df(spark, rows, ["i", "s"])
    assert sorted((r["i"], r["s"]) for r in vdf.collect()) == rows
    hits = vdf.where(f"s IN ({sql_in(strings)})").count()
    assert hits == len(strings)


BACKSLASH_DOCS = [
    (0, "C:\\dir\\f foo\\ x"),
    (1, "a\\b a\\b foo\\ y y"),
    (2, "C:\\dir\\f a\\b z"),
    (3, "plain words only here"),
    (4, "foo\\ foo\\ foo\\ C:\\dir\\f"),
    (5, "a\\b"),
    (6, "x y z C:\\dir\\f"),
]


def _ws(content: str) -> list[str]:
    return [t for t in content.split(" ") if t]


@pytest.fixture(scope="module")
def backslash_index(spark):
    corpus = spark.createDataFrame(BACKSLASH_DOCS, "doc_id long, content string")
    return build_index(spark, corpus, tokenizer="ws", shard_span=2)


def _ranked(df) -> dict[str, list[tuple[int, float]]]:
    out: dict[str, list[tuple[int, float]]] = {}
    for r in sorted(df.collect(), key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    return out


def test_backslash_terms_score_bit_exact(spark, backslash_index):
    """A ``ws`` index over ``C:\\dir\\f``, ``foo\\`` and ``a\\b``:
    exact (OR and AND), WAND and boolean_topk (its WAND, AND and full
    routes) equal the oracle float for float. The boolean surface reads
    ``C:...`` as a field clause, so that term goes through the term-list
    engines only."""
    idx = backslash_index
    oracle = Bm25Oracle(
        pd.DataFrame(BACKSLASH_DOCS, columns=["doc_id", "content"]), tokenize=_ws
    )
    c, f, a = "C:\\dir\\f", "foo\\", "a\\b"
    queries = [("q_c", [c], 10), ("q_fa", [f, a], 10), ("q_all", [c, f, a], 3)]
    want_or = {q: oracle.query(ts, k) for q, ts, k in queries}
    want_and = {q: oracle.query(ts, k, mode="and") for q, ts, k in queries}
    args = (spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats)
    assert _ranked(exact_topk(*args, queries)) == want_or
    assert _ranked(exact_topk(*args, queries, mode="and")) == {
        q: v for q, v in want_and.items() if v
    }
    assert _ranked(
        wand_topk(spark, idx.blocks, idx.dictionary, idx.stats, queries)
    ) == want_or

    not_f = [
        (d, s) for d, s in oracle.query([a], 10) if oracle.tf[d][f] == 0
    ]
    got = _ranked(boolean_topk(*args, [
        ("b_or", f"{f} OR {a}", 10),
        ("b_and", f"{f} AND {a}", 10),
        ("b_not", f"{a} AND NOT {f}", 10),
    ], shard_span=2))
    assert got == {
        "b_or": want_or["q_fa"],
        "b_and": want_and["q_fa"],
        "b_not": not_f,
    }


def _empty_list_calls():
    from spcht_spark.index.explain import explain_scores
    from spcht_spark.index.mlt import mlt_topk
    from spcht_spark.index.suggest import spellcheck_collate
    from spcht_spark.index.vectors import term_vectors

    return {
        "explain_scores": lambda s, idx, store: explain_scores(
            s, idx.blocks, idx.doclens, idx.dictionary, idx.stats,
            ["return"], [], shard_span=64,
        ),
        "term_vectors": lambda s, idx, store: term_vectors(
            s, store, idx.dictionary, [], tokenizer="arrow"
        ),
        "mlt_topk": lambda s, idx, store: mlt_topk(
            s, idx.blocks, idx.doclens, idx.dictionary, idx.stats, store, []
        ),
        "spellcheck_collate": lambda s, idx, store: spellcheck_collate(
            s, idx.dictionary, idx.blocks, []
        ),
    }


EMPTY_SCHEMAS = {
    "explain_scores": "doc_id long, term string, tf long, dl long, "
                      "df long, idf double, contrib double",
    "term_vectors": "doc_id long, term string, tf long, df long, tf_idf double",
    "mlt_topk": TOPK_SCHEMA,
    "spellcheck_collate": "query_id string, collation string, hits long",
}


@pytest.mark.parametrize("call", sorted(EMPTY_SCHEMAS))
def test_empty_id_list_returns_empty_frame(spark, small_index, small_corpus, call):
    """An empty id list renders ``1 = 0``, never ``IN ()``: each call
    returns an empty frame with its usual columns."""
    df = _empty_list_calls()[call](spark, small_index, small_corpus)
    assert df.collect() == []
    want = spark.createDataFrame([], EMPTY_SCHEMAS[call]).schema
    assert [(f.name, f.dataType) for f in df.schema] == [
        (f.name, f.dataType) for f in want
    ]


def test_empty_mlt_terms_and_collations(spark, small_index, small_corpus):
    """The driver-side MLT rewrites take no seeds; a collation of a
    query with no terms matches no doc."""
    from spcht_spark.index.mlt import interesting_terms, interesting_terms_detail
    from spcht_spark.index.suggest import spellcheck_collate

    stats_row = small_index.stats.collect()[0]
    assert interesting_terms(small_corpus, small_index.dictionary, stats_row, []) == {}
    assert interesting_terms_detail(
        small_corpus, small_index.dictionary, stats_row, []
    ) == []
    rows = spellcheck_collate(
        spark, small_index.dictionary, small_index.blocks, [("q", [])]
    ).collect()
    assert [tuple(r) for r in rows] == [("q", "", 0)]
