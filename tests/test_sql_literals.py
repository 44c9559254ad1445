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
    exact_scores,
    exact_topk,
    sql_esc,
    sql_in,
    sql_map,
    sql_str,
    stats_and_idfs,
    topn,
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


def test_formatter_sites_keep_a_cached_frame_cached(spark, backslash_index):
    """pyspark's ``spark.sql(text, df=frame)`` drops the temp view it
    registers for ``frame``, and dropping a view uncaches the cache entry
    with the same plan. ``topn``, ``exact_scores`` and the WAND runner's
    pinned block scan each take a caller's cached frame as an argument of
    such a statement: the frame stays cached and the rows equal those of
    the uncached frame."""
    idx = backslash_index
    f, a = "foo\\", "a\\b"
    scores = values_df(
        spark, [(q, d, float(d % 3)) for q in ("q'", "q{") for d in range(8)],
        ["query_id", "doc_id", "score"],
    )
    blocks = idx.blocks.where("shard >= 0")
    queries = [("q_fa", [f, a], 10), ("q_a", [a], 2)]
    stats_row, idfs = stats_and_idfs(idx.dictionary, idx.stats, [f, a])
    rows = [("q'", f, True, 1.0), ("q{", a, True, 2.5), ("q{", f, False, 1.0)]

    def run():
        return (
            sorted(topn(scores, ["query_id"], "score DESC, doc_id ASC", 3).collect()),
            sorted(exact_scores(
                spark, blocks, rows, stats_row, idfs
            ).select("query_id", "doc_id", "score").collect()),
            _ranked(wand_topk(
                spark, blocks, idx.dictionary, idx.stats, queries, theta_cascade=False
            )),
        )

    want = run()
    cached = [scores, blocks]
    for df in cached:
        df.cache().count()
    try:
        assert run() == want
        for df in cached:
            assert df.storageLevel.useMemory, df.columns
    finally:
        for df in cached:
            df.unpersist()


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


# Query ids and attribute values carrying every character the SQL text
# renderers must escape: quote, backslash and the arg-templating braces.
SPECIAL_QIDS = ["q'{a}\\", "q}\\'"]
SPECIAL_VALS = ["g{0}", "it's", "C:\\d\\", "}{'\\"]


@pytest.fixture(scope="module")
def special_setup(spark, small_corpus_pd):
    docs = [(int(r.doc_id), r.content) for r in small_corpus_pd.itertuples()]
    attrs = spark.createDataFrame(
        [(d, f"{SPECIAL_VALS[d % 4]}{d % 7}", len(c)) for d, c in docs],
        "doc_id long, grp string, n_chars long",
    ).cache()
    grp = {d: f"{SPECIAL_VALS[d % 4]}{d % 7}" for d, _ in docs}
    n_chars = {d: len(c) for d, c in docs}
    oracle = Bm25Oracle(small_corpus_pd)
    queries = [(SPECIAL_QIDS[0], ["return", "import"], 5), (SPECIAL_QIDS[1], ["def"], 3)]
    cand = {q: dict(oracle.query(ts, 10_000)) for q, ts, _ in queries}
    yield attrs, grp, n_chars, queries, cand
    attrs.unpersist()


def _heads(scores: dict[int, float], key_of) -> dict[str, tuple[int, float]]:
    """Per group key, its best (round(score, 6) desc, doc_id asc) doc."""
    out: dict[str, tuple[int, float]] = {}
    for d, s in sorted(scores.items(), key=lambda x: (-round(x[1], 6), x[0])):
        out.setdefault(key_of[d], (d, s))
    return out


def test_special_chars_through_ranked_sites(spark, small_index, special_setup):
    """Query ids, group, parent and facet values with ``{``, ``}``,
    ``'`` and ``\\`` round-trip through every per-partition top-n site
    and equal a Python reference: collapse, grouping, parent/child
    block join, limited facets, the keyset pager and function sort."""
    from spcht_spark.index.collapse import collapse_topk
    from spcht_spark.index.cursor import paged_scan
    from spcht_spark.index.facets import facet_counts
    from spcht_spark.index.funcquery import function_sort_topk
    from spcht_spark.index.grouping import group_topk
    from spcht_spark.index.join import child_topk, parent_topk
    from pyspark.sql import functions as F

    attrs, grp, n_chars, queries, cand = special_setup
    idx = small_index
    args = (spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats)
    ks = {q: k for q, _, k in queries}
    plain = [(q, ts) for q, ts, _ in queries]

    def by_heads(q):
        h = _heads(cand[q], grp)
        return sorted(h.items(), key=lambda x: (-round(x[1][1], 6), x[1][0]))

    got = collapse_topk(*args, attrs, "grp", queries).collect()
    assert sorted((r["query_id"], r["rank"], r["doc_id"], r["grp"]) for r in got) == sorted(
        (q, i + 1, d, g) for q in ks for i, (g, (d, _)) in enumerate(by_heads(q)[: ks[q]])
    )

    got = group_topk(*args, attrs, "grp", queries, group_limit=2).collect()
    want = []
    for q in ks:
        for i, (g, _) in enumerate(by_heads(q)[: ks[q]]):
            members = sorted(
                (x for x in cand[q].items() if grp[x[0]] == g),
                key=lambda x: (-round(x[1], 6), x[0]),
            )
            want += [(q, i + 1, g, len(members), j + 1, d) for j, (d, _) in enumerate(members[:2])]
    assert sorted(
        (r["query_id"], r["grp_rank"], r["grp"], r["grp_n"], r["doc_rank"], r["doc_id"])
        for r in got
    ) == sorted(want)

    scored = spark.createDataFrame(
        [(q, d, s) for q in cand for d, s in cand[q].items()],
        "query_id string, doc_id long, score double",
    )
    parents = {}
    for q in ks:
        best: dict[str, list] = {}
        for d, s in cand[q].items():
            best.setdefault(grp[d], []).append(s)
        parents[q] = sorted(
            ((p, max(v), len(v)) for p, v in best.items()),
            key=lambda x: (-round(x[1], 6), x[0]),
        )[: ks[q]]
    got = parent_topk(scored, attrs, "grp", ks).collect()
    assert sorted((r["query_id"], r["rank"], r["parent"], r["n_children"]) for r in got) == sorted(
        (q, i + 1, p, n) for q in ks for i, (p, _, n) in enumerate(parents[q])
    )
    got = child_topk(scored, attrs, "grp", {q: 6 for q in ks}, ks).collect()
    want = []
    for q in ks:
        kids = sorted(
            ((s, p, d) for p, s, _ in parents[q] for d in grp if grp[d] == p),
            key=lambda x: (-round(x[0], 6), x[1], x[2]),
        )
        want += [(q, i + 1, d, p) for i, (_, p, d) in enumerate(kids[:6])]
    assert sorted((r["query_id"], r["rank"], r["doc_id"], r["parent"]) for r in got) == sorted(want)

    name = "f'{x}\\"
    got = facet_counts(
        spark, idx.blocks, plain, attrs, {name: (F.col("grp"), ["grp"])}, limit=3,
    ).collect()
    want = []
    for q in ks:
        counts: dict[str, int] = {}
        for d in cand[q]:
            counts[grp[d]] = counts.get(grp[d], 0) + 1
        top = sorted(counts.items(), key=lambda x: (-x[1], x[0]))[:3]
        want += [(q, name, v, n) for v, n in top]
    assert sorted(tuple(r) for r in got) == sorted(want)

    got = paged_scan(
        spark, idx.blocks, plain, attrs, "grp", page_size=4, n_pages=3,
        sort_type="string",
    ).collect()
    want = []
    for q in ks:
        m = sorted((grp[d], d) for d in cand[q])[:12]
        want += [(q, i // 4, i % 4 + 1, d, g) for i, (g, d) in enumerate(m)]
    assert sorted(
        (r["query_id"], r["page"], r["pos"], r["doc_id"], r["sort_value"]) for r in got
    ) == sorted(want)

    got = function_sort_topk(
        spark, idx.blocks, plain, attrs, "div(n_chars,10)", k=5, descending=False,
    ).collect()
    want = []
    for q in ks:
        m = sorted((round(n_chars[d] / 10, 6), d) for d in cand[q])[:5]
        want += [(q, i + 1, d, round(v, 4)) for i, (v, d) in enumerate(m)]
    assert sorted((r["query_id"], r["rank"], r["doc_id"], r["sort_v"]) for r in got) == sorted(want)
