"""Property tests (hypothesis) for the boolean query language and the
varbyte codec: pure-Python paths, plus the Spark SQL renderer of the
AST checked row for row against the Python reference evaluator."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from spcht_spark.index.boolean import (
    QueryParseError,
    ast_terms,
    ast_to_spark_sql,
    eval_ast,
    parse_query,
)
from spcht_spark.index.compress import varbyte_decode, varbyte_encode

TERMS = ["alpha", "beta", "gamma", "delta", "eps"]

# ---------------------------------------------------------------- ASTs

terms_st = st.sampled_from(TERMS)


def ast_st(depth: int = 3):
    leaf = st.builds(lambda t: ("term", t), terms_st)
    if depth == 0:
        return leaf
    sub = ast_st(depth - 1)
    return st.one_of(
        leaf,
        st.builds(lambda x: ("not", x), sub),
        st.builds(lambda xs: ("and", xs), st.lists(sub, min_size=2, max_size=3)),
        st.builds(lambda xs: ("or", xs), st.lists(sub, min_size=2, max_size=3)),
    )


def render(ast) -> str:
    kind = ast[0]
    if kind == "term":
        return ast[1]
    if kind == "not":
        return f"NOT {render(ast[1])}"
    op = " AND " if kind == "and" else " OR "
    return "(" + op.join(render(a) for a in ast[1]) + ")"


def norm(ast):
    """Flatten nested same-op n-ary nodes the way the parser builds
    them from a fully-parenthesized render (each paren group is one
    n-ary node, so only single-child collapse applies)."""
    return ast


@given(ast_st())
@settings(max_examples=300, deadline=None)
def test_parse_render_roundtrip_or_reject(ast):
    """Rendering an AST and parsing it back preserves semantics: for
    every subset of the vocabulary, eval(original) == eval(parsed).
    Pure-negative ASTs must be consistently REJECTED — exactly when the
    original matches the empty term set."""
    q = render(ast)
    matches_empty = eval_ast(ast, frozenset())
    try:
        parsed = parse_query(q)
    except QueryParseError:
        assert matches_empty, q
        return
    assert not matches_empty, q
    vocab = sorted(ast_terms(ast))
    for mask in range(1 << len(vocab)):
        present = frozenset(t for i, t in enumerate(vocab) if mask >> i & 1)
        assert eval_ast(parsed, present) == eval_ast(ast, present), (q, present)


@given(st.lists(st.sampled_from(TERMS + ["AND", "OR", "NOT", "(", ")", "-x"]),
                max_size=8))
@settings(max_examples=300, deadline=None)
def test_parser_never_crashes(tokens):
    """Arbitrary token soup either parses or raises QueryParseError —
    never an unexpected exception."""
    q = " ".join(tokens)
    try:
        parse_query(q)
    except QueryParseError:
        pass


# ------------------------------------------------------------- varbyte

@given(st.lists(st.integers(min_value=0, max_value=2**40), max_size=200))
@settings(max_examples=200, deadline=None)
def test_varbyte_roundtrip_property(xs):
    arr = np.array(xs, dtype=np.uint64)
    assert np.array_equal(varbyte_decode(varbyte_encode(arr)), arr)


@given(st.lists(st.sampled_from(
    TERMS + ["AND", "OR", "NOT", "(", ")", "-beta", "+alpha", "ga*",
             "?lpha", "eps~1", "x:y", "n:[1 TO 2]"]),
    max_size=8))
@settings(max_examples=300, deadline=None)
def test_parser_never_crashes_extended_surface(tokens):
    """Token soup over the FULL round-5 surface (MUST markers,
    wildcards, fuzzy, attr clauses) either parses or raises
    QueryParseError under BOTH default operators — never any other
    exception."""
    q = " ".join(tokens)
    for op in ("OR", "AND"):
        try:
            parse_query(q, default_op=op)
        except QueryParseError:
            pass


@given(ast_st())
@settings(max_examples=200, deadline=None)
def test_qop_and_equals_explicit_and_render(ast):
    """For any AST, rendering with explicit operators parses to the
    same semantics under q.op=OR and q.op=AND — explicit operators
    leave no adjacency for the default op to bind."""
    q = render(ast)
    matches_empty = eval_ast(ast, frozenset())
    try:
        p_or = parse_query(q, default_op="OR")
        p_and = parse_query(q, default_op="AND")
    except QueryParseError:
        assert matches_empty, q
        return
    vocab = sorted(ast_terms(ast))
    for mask in range(1 << len(vocab)):
        present = frozenset(t for i, t in enumerate(vocab) if mask >> i & 1)
        assert eval_ast(p_or, present) == eval_ast(p_and, present), (q, present)


@given(st.lists(terms_st, min_size=2, max_size=4, unique=True))
@settings(max_examples=100, deadline=None)
def test_qop_and_adjacency_is_conjunction(ts):
    """'a b c' under q.op=AND evaluates exactly as 'a AND b AND c'."""
    adj = parse_query(" ".join(ts), default_op="AND")
    conj = parse_query(" AND ".join(ts))
    for mask in range(1 << len(ts)):
        present = frozenset(t for i, t in enumerate(ts) if mask >> i & 1)
        assert eval_ast(adj, present) == eval_ast(conj, present), (ts, present)


# ------------------------------------------- Spark SQL renderer vs eval_ast

# (doc_id, terms, attrs row or None when the doc has no attrs row)
RENDER_DOCS = [
    (0, ["alpha", "beta"], ("en", 1)),
    (1, ["alpah", "gamma"], ("de", 3)),
    (2, ["beta", "delta", "eps"], (None, 2)),
    (3, ["gamm"], None),
    (4, [], ("fr", None)),
    (5, ["deltas", "epsilon", "x"], ("en", 5)),
    (6, ["alpha", "gamma", "delta", "eps", "bta"], None),
    (7, ["eps"], (None, None)),
]
LANG = "meta.lang"  # a dotted name: one flat column
BOUNDS_N = [None, 1.0, 2.0, 3.5, 5.0]
BOUNDS_S = [None, "d", "e", "en", "f"]


def full_ast_st(depth: int = 3):
    leaf = st.one_of(
        st.builds(lambda t: ("term", t), terms_st),
        st.builds(lambda t, d: ("fuzzy", t, d), terms_st, st.sampled_from([1, 2])),
        st.builds(lambda p: ("wild", p), st.sampled_from(
            ["al*", "*ta", "?eta", "g*a", "e?s", "*l*", "gam?", "d*s"])),
        st.builds(lambda v: ("eq", LANG, v), st.sampled_from(["en", "de", "fr"])),
        st.builds(lambda v: ("eq", "n", v), st.sampled_from(["1", "3", "5"])),
        st.builds(lambda lo, hi: ("range", "n", lo, hi),
                  st.sampled_from(BOUNDS_N), st.sampled_from(BOUNDS_N)),
        st.builds(lambda lo, hi: ("range", LANG, lo, hi),
                  st.sampled_from(BOUNDS_S), st.sampled_from(BOUNDS_S)),
    )
    if depth == 0:
        return leaf
    sub = full_ast_st(depth - 1)
    return st.one_of(
        leaf,
        st.builds(lambda x: ("not", x), sub),
        st.builds(lambda xs: ("and", xs), st.lists(sub, min_size=2, max_size=3)),
        st.builds(lambda xs: ("or", xs), st.lists(sub, min_size=2, max_size=3)),
    )


@pytest.fixture(scope="module")
def render_frame(spark):
    """Docs left-joined to their attrs rows (absent rows → NULLs)."""
    docs = spark.createDataFrame(
        [(d, ts) for d, ts, _ in RENDER_DOCS], "doc_id long, terms array<string>"
    )
    attrs = spark.createDataFrame(
        [(d, *a) for d, _, a in RENDER_DOCS if a is not None],
        "doc_id long, `meta.lang` string, n long",
    )
    frame = docs.join(attrs, "doc_id", "left").cache()
    yield frame
    frame.unpersist()


@given(st.lists(full_ast_st(), min_size=12, max_size=12))
@settings(max_examples=30, deadline=None)
def test_spark_sql_renderer_equals_eval_ast(render_frame, asts):
    """Over ASTs mixing terms, NOT, AND/OR, eq/range on fields with NULLs
    and absent rows, fuzzy and wildcard nodes, the Spark-evaluated
    ast_to_spark_sql equals eval_ast on every row — one Spark job per
    batch of ASTs."""
    rows = render_frame.selectExpr(
        "doc_id", *[f"{ast_to_spark_sql(a, 'terms')} AS p{i}" for i, a in enumerate(asts)]
    ).collect()
    by_doc = {d: (frozenset(ts), a) for d, ts, a in RENDER_DOCS}
    assert sorted(r["doc_id"] for r in rows) == sorted(by_doc)
    for r in rows:
        present, a = by_doc[r["doc_id"]]
        attrs = None if a is None else {LANG: a[0], "n": a[1]}
        for i, ast in enumerate(asts):
            assert r[f"p{i}"] is eval_ast(ast, present, attrs), (r["doc_id"], ast)
