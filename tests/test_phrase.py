"""Positional postings + phrase top-k vs a pure-Python content-scan
oracle: match set identical, scores bit-identical (conjunctive BM25 over
the phrase's distinct terms, gated by in-order adjacency)."""

from __future__ import annotations

import numpy as np
import pytest

from spcht_spark.oracle import Bm25Oracle, idf, term_score, tokenize_py

PHRASES = [
    ("p_ret_brace", ["return", "{"], 10),
    ("p_if_else", ["if", "else"], 10),
    ("p_semi_semi", [";", ";"], 10),          # repeated term
    ("p_three", ["(", ")", ";"], 10),
    ("p_absent", ["return", "zzz_nope"], 10),  # index-absent term → empty
    ("p_single", ["node42"], 10),              # 1-term phrase = term query
]


def phrase_oracle(corpus_pd, phrase, k):
    """Scan every doc's token list for the phrase; score = Σ distinct
    terms' BM25 contributions (ascending-term order)."""
    o = Bm25Oracle(corpus_pd)
    uniq = sorted(set(phrase))
    if any(o.df[t] == 0 for t in uniq):
        return []
    idfs = {t: idf(o.n_docs, o.df[t]) for t in uniq}
    hits = []
    for doc_id, content in zip(corpus_pd["doc_id"], corpus_pd["content"]):
        toks = tokenize_py(content)
        n = len(phrase)
        if not any(
            toks[i : i + n] == phrase for i in range(len(toks) - n + 1)
        ):
            continue
        doc_id = int(doc_id)
        score = 0.0
        for t in uniq:
            score += term_score(o.tf[doc_id][t], o.dl[doc_id], o.avgdl, idfs[t])
        hits.append((doc_id, score))
    hits.sort(key=lambda kv: (-kv[1], kv[0]))
    return hits[:k]


@pytest.fixture(scope="module")
def pos_index(spark, small_corpus):
    from spcht_spark.index.phrase import build_positional_index

    idx = build_positional_index(spark, small_corpus, mode="arrow", shard_span=64)
    idx.blocks = idx.blocks.cache()
    idx.blocks.count()
    return idx


def test_positional_tokens_roundtrip(spark, small_corpus, small_corpus_pd):
    """pos_bin decodes to the exact occurrence indices of the term in
    the doc's token sequence; tf/dl agree with the non-positional path."""
    from spcht_spark.index.compress import segmented_positions, varbyte_decode
    from spcht_spark.index.tokenize import tokens_positional

    rows = tokens_positional(small_corpus, "arrow").filter("doc_id < 25").collect()
    sub = small_corpus_pd[small_corpus_pd["doc_id"] < 25]
    by_doc = {
        int(d): tokenize_py(c) for d, c in zip(sub["doc_id"], sub["content"])
    }
    assert rows
    for r in rows:
        toks = by_doc[int(r["doc_id"])]
        gaps = varbyte_decode(r["pos_bin"])
        pos = segmented_positions(gaps, np.array([int(r["tf"])]))
        want = [i for i, t in enumerate(toks) if t == r["term"]]
        assert pos.tolist() == want, (r["doc_id"], r["term"])
        assert int(r["dl"]) == len(toks)


@pytest.mark.parametrize("span", [64, 1024])
def test_positional_blocks_are_default_blocks_plus_pos_bin(
    spark, small_corpus, small_corpus_pd, span
):
    """Minus ``pos_bin`` the positional blocks equal build_blocks over
    the default tokens row for row, impacts lanes included, and
    each block's ``pos_bin`` decodes to the oracle positions of its
    postings. Span 64 splits every term over many shards; span 1024
    keeps the 400 docs in one shard, so hot terms span several blocks."""
    from spcht_spark.index.build import build_blocks, build_tokens
    from spcht_spark.index.compress import segmented_positions, varbyte_decode
    from spcht_spark.index.phrase import build_positional_index

    idx = build_positional_index(spark, small_corpus, mode="arrow", shard_span=span)
    assert idx.tokenizer == "arrow"
    keys = ["term", "shard", "block_seq"]
    pos = idx.blocks.toPandas().sort_values(keys).reset_index(drop=True)
    ref = (
        build_blocks(build_tokens(small_corpus), shard_span=span)
        .toPandas().sort_values(keys).reset_index(drop=True)
    )
    assert pos.columns.tolist() == ref.columns.tolist() + ["pos_bin"]
    lanes = ["imp_tf", "imp_dl"]
    assert pos.drop(columns=["pos_bin", *lanes]).equals(ref.drop(columns=lanes))
    for lane in lanes:
        assert [list(v) for v in pos[lane]] == [list(v) for v in ref[lane]], lane
    if span == 1024:
        assert (pos["block_seq"] > 0).any()

    want = {}
    for d, content in zip(small_corpus_pd["doc_id"], small_corpus_pd["content"]):
        for i, t in enumerate(tokenize_py(content)):
            want.setdefault((t, int(d)), []).append(i)
    for r in pos.itertuples():
        docs = np.cumsum(varbyte_decode(r.docs_bin)).astype(np.int64)
        tfs = varbyte_decode(r.tfs_bin).astype(np.int64)
        positions = segmented_positions(varbyte_decode(r.pos_bin), tfs)
        offs = np.concatenate(([0], np.cumsum(tfs)))
        for j, d in enumerate(docs.tolist()):
            got = positions[offs[j] : offs[j + 1]].tolist()
            assert got == want[(r.term, d)], (r.term, d)


def test_phrase_matches_oracle(spark, pos_index, small_corpus_pd):
    from spcht_spark.index.phrase import phrase_topk

    got = phrase_topk(
        spark, pos_index.blocks, pos_index.dictionary, pos_index.stats, PHRASES
    ).toPandas()
    by_q = {
        qid: [(int(r.doc_id), float(r.score)) for r in g.sort_values("rank").itertuples()]
        for qid, g in got.groupby("query_id")
    }
    any_hits = False
    for qid, phrase, k in PHRASES:
        want = phrase_oracle(small_corpus_pd, phrase, k)
        have = by_q.get(qid, [])
        assert [d for d, _ in have] == [d for d, _ in want], f"{qid} ranks"
        for (d, s1), (_, s2) in zip(have, want):
            assert s1 == s2, f"{qid} doc {d}: {s1} != {s2} (bit contract)"
        any_hits = any_hits or bool(want)
    assert any_hits, "test corpus produced no phrase matches at all"


def test_phrase_stricter_than_and(spark, pos_index):
    """Every phrase match is an AND match; scores agree on the overlap
    (phrase score IS the conjunctive score, adjacency only gates)."""
    from spcht_spark.index.phrase import phrase_topk
    from spcht_spark.index.wand import and_topk

    q = [("p", ["return", "{"], 400)]
    ph = phrase_topk(
        spark, pos_index.blocks, pos_index.dictionary, pos_index.stats, q
    ).toPandas()
    an = and_topk(
        spark, pos_index.blocks, pos_index.dictionary, pos_index.stats, q
    ).toPandas()
    assert len(ph) and set(ph.doc_id) <= set(an.doc_id)
    merged = ph.merge(an, on="doc_id", suffixes=("_p", "_a"))
    assert (merged["score_p"] == merged["score_a"]).all()


# ----------------------------------------------------------- slop
def test_slop_window_match_lucene_examples():
    """Lucene's documented slop examples, straight on the window scan
    (adjusted positions = raw − phrase offset)."""
    from spcht_spark.index.phrase import _slop_window_match

    def lists(*poslists):
        return [np.asarray(p, dtype=np.int64) for p in poslists]

    # "a x b": a@0, b@2; phrase [a, b] → adjusted [0], [1]: spread 1
    assert not _slop_window_match(lists([0], [1]), 0)
    assert _slop_window_match(lists([0], [1]), 1)
    # exact "a b": a@0, b@1 → adjusted [0], [0]
    assert _slop_window_match(lists([0], [0]), 0)
    # transposition "b a": phrase [a, b] over text b@0, a@1 →
    # adjusted a: 1, b: -1 → spread 2 (matches ~2, not ~1)
    assert not _slop_window_match(lists([1], [-1]), 1)
    assert _slop_window_match(lists([1], [-1]), 2)
    # window scan must advance past early positions: a@[0, 50], b@49
    assert _slop_window_match(lists([0, 50], [48]), 2)


def slop_oracle(corpus_pd, phrase, slop, k):
    """Window-gate twin of phrase_oracle: doc matches iff one position
    per term (adjusted by phrase offset) has max-min spread ≤ slop."""
    o = Bm25Oracle(corpus_pd)
    uniq = sorted(set(phrase))
    if any(o.df[t] == 0 for t in uniq):
        return []
    idfs = {t: idf(o.n_docs, o.df[t]) for t in uniq}
    hits = []
    for doc_id, content in zip(corpus_pd["doc_id"], corpus_pd["content"]):
        toks = tokenize_py(content)
        adj = []
        for j, t in enumerate(phrase):
            ps = [i - j for i, x in enumerate(toks) if x == t]
            adj.append(ps)
        if any(not ps for ps in adj):
            continue
        from itertools import product

        if not any(
            max(combo) - min(combo) <= slop for combo in product(*adj)
        ):
            continue
        doc_id = int(doc_id)
        score = 0.0
        for t in uniq:
            score += term_score(o.tf[doc_id][t], o.dl[doc_id], o.avgdl, idfs[t])
        hits.append((doc_id, score))
    hits.sort(key=lambda kv: (-kv[1], kv[0]))
    return hits[:k]


SLOP_PHRASES = [
    ("s_ret_brace1", ["return", "{"], 1),
    ("s_swap2", ["{", "return"], 2),    # transposition of an exact bigram
    ("s_if_else3", ["if", "else"], 3),
]


def test_phrase_slop_vs_python_oracle(spark, pos_index, small_corpus_pd):
    from spcht_spark.index.phrase import phrase_topk

    qs = [(qid, ts, 10) for qid, ts, _ in SLOP_PHRASES]
    got = phrase_topk(
        spark, pos_index.blocks, pos_index.dictionary, pos_index.stats, qs,
        slop={qid: s for qid, _, s in SLOP_PHRASES},
    ).collect()
    for qid, ts, s in SLOP_PHRASES:
        exp = slop_oracle(small_corpus_pd, ts, s, 10)
        assert exp, qid  # corpus must contain sloppy matches
        rows = [
            (r["doc_id"], r["score"])
            for r in sorted(got, key=lambda r: r["rank"])
            if r["query_id"] == qid
        ]
        assert rows == exp, qid


def test_phrase_slop0_equals_exact_path(spark, pos_index):
    """slop=0 (explicit) must be row-identical to the default exact
    path for every non-repeated test phrase."""
    from spcht_spark.index.phrase import phrase_topk

    qs = [(qid, ts, k) for qid, ts, k in PHRASES if len(set(ts)) == len(ts)]
    a = phrase_topk(
        spark, pos_index.blocks, pos_index.dictionary, pos_index.stats, qs
    ).collect()
    b = phrase_topk(
        spark, pos_index.blocks, pos_index.dictionary, pos_index.stats, qs,
        slop=0,
    ).collect()
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert sorted(a, key=key) == sorted(b, key=key)


def test_phrase_slop_repeated_term_rejected(spark, pos_index):
    from spcht_spark.index.phrase import phrase_topk

    with pytest.raises(ValueError, match="repeated"):
        phrase_topk(
            spark, pos_index.blocks, pos_index.dictionary, pos_index.stats,
            [("bad", [";", ";"], 10)], slop=1,
        )
