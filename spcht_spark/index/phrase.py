"""Positional postings + exact phrase top-k.

Closes the round-2 VERDICT query-surface gap #4: the reference's
upstream Solr answers phrase queries (``q`` passes through verbatim,
/root/reference/Spcht/Core/WorkOrder.py:693), but the engine's default
blocks carry no positions. This module is the OPT-IN positional layout:

* blocks gain one ``pos_bin`` column — per posting, the term's
  occurrence positions in the doc, delta-gapped with the chain reset per
  posting, varbyte-encoded, concatenated in doc order and sliced at the
  same 128-posting block boundaries as docs/tfs. ``tf`` is the implicit
  length prefix, so decode needs no extra framing.
* the default (non-positional) layout is untouched — positions cost
  ~dl bytes/doc, and most queries never need them (Lucene makes the
  same positional/non-positional distinction per field).

Phrase semantics: a doc matches iff the terms occur consecutively in
order (positions p, p+1, …, p+len-1 in the doc's token sequence);
score = Σ over the phrase's DISTINCT terms of the standard BM25 term
contribution (idf·tf-part) — i.e. the conjunctive AND score gated by
adjacency. Rank-identity vs a pure-Python content-scan oracle is pinned
in tests/test_phrase.py.

Scale shape mirrors the AND path (spcht_spark.index.wand._and_one_group):
per-(query, doc-range shard) groups, candidate docs from the
fewest-blocks driver term, other terms decode only blocks overlapping
the shrinking candidate set, positions decoded ONLY for docs that
survive the intersection. Docs are disjoint across shards → exact
global merge.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spcht_spark.index.build import (
    BLOCKS_SCHEMA,
    DEFAULT_SHARD_SPAN,
    IndexTables,
    build_doclens,
    build_stats,
    dictionary_from_blocks,
)
from spcht_spark.index.compress import (
    BLOCK_SIZE,
    delta_gaps_blocked,
    segmented_positions,
    varbyte_decode,
    varbyte_encode_blocks,
)
from spcht_spark.index.query import (
    TOPK_SCHEMA,
    sql_in,
    stats_and_idfs,
    topk,
    values_df,
)
from spcht_spark.index.tokenize import tokens_positional
from spcht_spark.oracle import B, K1

POS_BLOCKS_SCHEMA = T.StructType(
    BLOCKS_SCHEMA.fields + [T.StructField("pos_bin", T.BinaryType(), False)]
)

_CAND_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


def build_positional_blocks(
    tokens: DataFrame,
    avgdl: float,
    shard_span: int = DEFAULT_SHARD_SPAN,
    block_size: int = BLOCK_SIZE,
) -> DataFrame:
    """build_blocks + the pos_bin column (same single (term, shard)
    shuffle; the per-posting position bytes ride along and are
    re-concatenated per block slice)."""
    k1, b = K1, B
    bs = block_size
    with_shard = tokens.withColumn(
        "shard", (F.col("doc_id") / F.lit(shard_span)).cast("long")
    )

    def make_blocks(pdf: pd.DataFrame) -> pd.DataFrame:
        term = pdf["term"].iat[0]
        shard = int(pdf["shard"].iat[0])
        order = np.argsort(pdf["doc_id"].to_numpy(np.int64), kind="stable")
        docs = pdf["doc_id"].to_numpy(np.int64)[order]
        tfs = pdf["tf"].to_numpy(np.int64)[order]
        dls = pdf["dl"].to_numpy(np.int64)[order]
        pbins = pdf["pos_bin"].to_numpy()[order]
        parts = (tfs * (k1 + 1.0)) / (tfs + k1 * (1.0 - b + b * (dls / avgdl)))

        n = len(docs)
        starts = np.arange(0, n, bs)
        ends = np.minimum(starts + bs, n)
        docs_bins = varbyte_encode_blocks(delta_gaps_blocked(docs, bs), bs)
        tfs_bins = varbyte_encode_blocks(tfs.astype(np.uint64), bs)
        dls_bins = varbyte_encode_blocks(dls.astype(np.uint64), bs)
        pos_bins = [b"".join(pbins[s:e]) for s, e in zip(starts, ends)]
        max_parts = np.maximum.reduceat(parts, starts)
        return pd.DataFrame(
            {
                "term": term,
                "term_hash": 0,
                "shard": shard,
                "block_seq": np.arange(len(starts), dtype=np.int32),
                "first_doc": docs[starts],
                "last_doc": docs[ends - 1],
                "n_docs": (ends - starts).astype(np.int32),
                "docs_bin": docs_bins,
                "tfs_bin": tfs_bins,
                "dls_bin": dls_bins,
                "max_part": max_parts,
                "cf": np.add.reduceat(tfs, starts),
                "pos_bin": pos_bins,
            }
        )

    blocks = with_shard.groupBy("term", "shard").applyInPandas(
        make_blocks, schema=POS_BLOCKS_SCHEMA
    )
    return blocks.withColumn("term_hash", F.xxhash64("term"))


def build_positional_index(
    spark: SparkSession,
    corpus: DataFrame,
    mode: str = "arrow",
    shard_span: int = DEFAULT_SHARD_SPAN,
    analyzer: str | None = None,
) -> IndexTables:
    """In-memory positional build (tokens → stats → positional blocks).
    Dictionary/doclens are derived exactly as the default build."""
    from spcht_spark.index.analyze import token_steps
    from spcht_spark.index.build import apply_analyzer

    if token_steps(analyzer):
        raise ValueError(
            "positional index supports content-level analyzer steps only "
            "(lowercase) — stop/sstem would shift token positions"
        )
    corpus = apply_analyzer(corpus, analyzer)
    tokens = tokens_positional(corpus, mode).localCheckpoint()
    doclens = build_doclens(tokens)
    stats = build_stats(doclens)
    avgdl = float(stats.collect()[0]["avgdl"])
    # materialized once, as in build_index: the dictionary aggregates the
    # blocks instead of re-running the encode shuffle
    blocks = build_positional_blocks(
        tokens, avgdl, shard_span=shard_span
    ).localCheckpoint(eager=False)
    dictionary = dictionary_from_blocks(blocks)
    return IndexTables(
        tokens, doclens, dictionary, stats, blocks,
        shard_span=shard_span, analyzer=analyzer,
    )


class _PosCursor:
    """Decoded-on-demand positional postings of one term in one shard."""

    __slots__ = ("firsts", "lasts", "docs_bins", "tfs_bins", "dls_bins",
                 "pos_bins", "cache")

    def __init__(self, grp: pd.DataFrame):
        grp = grp.sort_values("block_seq")
        self.firsts = grp["first_doc"].to_numpy(np.int64)
        self.lasts = grp["last_doc"].to_numpy(np.int64)
        self.docs_bins = grp["docs_bin"].tolist()
        self.tfs_bins = grp["tfs_bin"].tolist()
        self.dls_bins = grp["dls_bin"].tolist()
        self.pos_bins = grp["pos_bin"].tolist()
        self.cache: dict[int, tuple] = {}

    def n_blocks(self) -> int:
        return len(self.firsts)

    def decode(self, i: int):
        """(docs, tfs, dls, positions, pos_offsets) of block i; positions
        of posting j are positions[pos_offsets[j] : pos_offsets[j + 1]]."""
        hit = self.cache.get(i)
        if hit is not None:
            return hit
        gaps = varbyte_decode(self.docs_bins[i])
        docs = np.cumsum(gaps, dtype=np.uint64).astype(np.int64)
        tfs = varbyte_decode(self.tfs_bins[i]).astype(np.int64)
        dls = varbyte_decode(self.dls_bins[i]).astype(np.int64)
        pgaps = varbyte_decode(self.pos_bins[i])
        positions = segmented_positions(pgaps, tfs)
        pos_offsets = np.concatenate(([0], np.cumsum(tfs)))
        out = (docs, tfs, dls, positions, pos_offsets)
        self.cache[i] = out
        return out

    def gather(self, cand: np.ndarray):
        """Decode blocks overlapping ``cand`` (sorted); returns stacked
        (docs, tfs, dls, positions, pos_offsets) for those blocks."""
        idxs = []
        for i in range(len(self.firsts)):
            lo = np.searchsorted(cand, self.firsts[i], side="left")
            if lo < len(cand) and cand[lo] <= self.lasts[i]:
                idxs.append(i)
        if not idxs:
            z = np.zeros(0, dtype=np.int64)
            return z, z, z, z, np.zeros(1, dtype=np.int64)
        parts = [self.decode(i) for i in idxs]
        docs = np.concatenate([p[0] for p in parts])
        tfs = np.concatenate([p[1] for p in parts])
        dls = np.concatenate([p[2] for p in parts])
        positions = np.concatenate([p[3] for p in parts])
        pos_offsets = np.concatenate(([0], np.cumsum(tfs)))
        return docs, tfs, dls, positions, pos_offsets


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
    uniq_terms = sorted(set(phrase))
    cursors = {t: _PosCursor(g) for t, g in pdf.groupby("term")}
    if any(t not in cursors for t in uniq_terms):
        return []

    # Pass 1 — conjunctive candidates, driven by the fewest-blocks term.
    drive = min(uniq_terms, key=lambda t: cursors[t].n_blocks())
    dc = cursors[drive]
    cand = (
        np.concatenate([dc.decode(i)[0] for i in range(dc.n_blocks())])
        if dc.n_blocks()
        else np.zeros(0, dtype=np.int64)
    )
    for t in uniq_terms:
        if t == drive or not len(cand):
            continue
        docs = cursors[t].gather(cand)[0]
        cand = cand[np.isin(cand, docs)]
    if not len(cand):
        return []

    # Pass 2 — adjacency check over candidate docs only (gather hits the
    # pass-1 cache), plus per-term (tf, dl) for scoring.
    gathered = {t: cursors[t].gather(cand) for t in uniq_terms}
    per_doc_pos: dict[str, dict[int, np.ndarray]] = {}
    per_doc_tf: dict[str, dict[int, int]] = {}
    doc_dl: dict[int, int] = {}
    for t in uniq_terms:
        docs, tfs, dls, positions, offs = gathered[t]
        sel = np.searchsorted(docs, cand)
        pos_map, tf_map = {}, {}
        for ci, di in enumerate(sel):
            d = int(cand[ci])
            if di >= len(docs) or docs[di] != d:
                continue  # can't happen post-intersection, kept defensive
            pos_map[d] = positions[offs[di] : offs[di + 1]]
            tf_map[d] = int(tfs[di])
            doc_dl[d] = int(dls[di])
        per_doc_pos[t] = pos_map
        per_doc_tf[t] = tf_map

    out: list[tuple[int, float]] = []
    for d in cand.tolist():
        if slop == 0:
            starts = per_doc_pos[phrase[0]].get(d)
            if starts is None:
                continue
            ok = starts
            for j, t in enumerate(phrase[1:], start=1):
                nxt = per_doc_pos[t].get(d)
                if nxt is None:
                    ok = np.zeros(0, dtype=np.int64)
                    break
                ok = np.intersect1d(ok, nxt - j, assume_unique=True)
                if not len(ok):
                    break
            if not len(ok):
                continue
        else:
            lists = []
            for j, t in enumerate(phrase):
                ps = per_doc_pos[t].get(d)
                if ps is None:
                    lists = None
                    break
                lists.append(ps - j)  # adjusted positions
            if lists is None or not _slop_window_match(lists, slop):
                continue
        dl = doc_dl[d]
        score = 0.0
        for t in uniq_terms:  # ascending-term summation (bit contract)
            tf = per_doc_tf[t][d]
            score += idfs[t] * (
                (tf * (K1 + 1.0)) / (tf + K1 * (1.0 - B + B * (dl / avgdl)))
            )
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
        res = _phrase_one_group(
            pdf, phrases[query_id], idfs, avgdl, slop=slops[query_id]
        )
        return pd.DataFrame(
            {"query_id": query_id, "doc_id": [d for d, _ in res],
             "score": [s for _, s in res]}
        )

    cand = hit.groupBy("query_id", "shard").applyInPandas(run, schema=_CAND_SCHEMA)
    return topk(cand, ks)
