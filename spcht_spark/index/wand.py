"""Block-max WAND top-k BM25 (SURVEY.md §7 step 6).

Rank-safe pruned scoring at block granularity, parallelized per
(query_id, doc-range shard):

* Each (term, shard) posting list is a sequence of doc-ordered blocks
  with an exact per-block upper bound ``idf · max(bm25_part)`` over the
  block's competitive impacts (``imp_tf``, ``imp_dl``), computed at the
  request's avgdl — equal bit for bit to the max over every posting of
  the block (see spcht_spark.index.build).
* Per group, a WAND loop either (a) proves every doc in the current
  frontier range is below the running kth score θ and skips the blocks
  undecoded, or (b) decodes the covering blocks and scores the range
  exactly (float64, term-ordered summation — same bit-contract as
  spcht_spark.oracle / index.query).
* Docs are disjoint across shards, so per-shard top-k merge exactly:
  global top-k = top-k of the union (one narrow final window).

θ starts at −inf per shard (no cross-shard θ sharing in v1 — a
broadcast-θ cascade is the documented scale refinement).

The per-group state machine is the engine's only imperative loop; it
iterates over *blocks* (|postings|/128), not postings, and all scoring
is vectorized numpy over decoded blocks (``input_hint``: no per-row
Python).
"""

from __future__ import annotations

import heapq
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spcht_spark.index.build import bm25_part
from spcht_spark.index.compress import BLOCK_SIZE as _BLOCK_SIZE
from spcht_spark.index.compress import segmented_positions, varbyte_decode
from spcht_spark.index.query import (
    TOPK_SCHEMA,
    apply_cogrouped_cached,
    apply_grouped_cached,
    sql_esc,
    sql_frames,
    sql_in,
    stats_and_idfs,
    topk,
    topn,
    values_df,
)
from spcht_spark.session import shuffle_parallelism

# θ-cascade pays its two extra driver barriers only when the batch
# actually decodes many blocks; below this it runs single-phase.
_CASCADE_MIN_BLOCKS = 4096

_CAND_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


def _pin_groups(df: DataFrame) -> DataFrame:
    """Pin the (query_id, shard) grouping shuffle to the configured
    shuffle parallelism before an applyInPandas group stage.

    AQE coalesces shuffle partitions by BYTES; posting-block rows are
    small but each group runs a Python WAND/AND decode loop, so a
    byte-coalesced exchange collapses the whole batch into one task and
    serializes every group's loop in a single worker (measured: a
    1-task 0.46 s stage for a 25-query batch that runs 0.06 s at 32
    tasks). An explicit keyed repartition at
    ``spark.sql.shuffle.partitions`` (the scale-tuned knob: cores
    locally, 2-3x executor cores on a cluster) satisfies the group
    clustering requirement — no second exchange — and AQE honors the
    user-specified partition count (guide §2.5: compute-heavy, not
    byte-heavy, partitions)."""
    n = shuffle_parallelism(df.sparkSession)
    return df.repartition(n, "query_id", "shard")


def _pinned_scan(
    spark: SparkSession,
    blocks: DataFrame,
    query_terms: DataFrame,
    idfs: dict[str, float],
    param: str,
) -> DataFrame:
    """The runner input of the single-phase WAND and AND paths: the
    ``term IN`` pruned block scan, broadcast-joined to the query-term
    table, pruned to the runner's columns (term_hash/n_docs/cf never
    reach it; ``param`` names the per-query column, ``k`` or
    ``n_terms``) and pinned as :func:`_pin_groups` pins — as ONE
    parametrized statement, one plan analysis instead of four. The
    REPARTITION hint is the same AQE-honored REPARTITION_BY_NUM shape
    ``_pin_groups`` produces."""
    n_shuffle = shuffle_parallelism(spark)
    return sql_frames(
        spark,
        f"SELECT /*+ REPARTITION({n_shuffle}, query_id, shard), BROADCAST(q) */ "
        "term, shard, block_seq, first_doc, last_doc, docs_bin, tfs_bin, "
        f"dls_bin, imp_tf, imp_dl, query_id, idf, {param}, avgdl "
        "FROM {blocks} AS p JOIN {qt} AS q USING (term) "
        f"WHERE term IN ({sql_esc(sql_in(sorted(idfs)))})",
        blocks=blocks,
        qt=query_terms,
    )


class _TermCursor:
    """Decoded-on-demand postings of one term in one (query, shard)
    group, shared by WAND, AND and phrase (spcht_spark.index.phrase)."""

    __slots__ = ("term", "idf", "firsts", "lasts", "bounds", "docs_bins",
                 "tfs_bins", "dls_bins", "pos_bins", "pos", "cache", "_avgdl")

    def __init__(self, term: str, idf: float, grp: pd.DataFrame, avgdl: float):
        grp = grp.sort_values("block_seq")
        self.term = term
        self.idf = idf
        self.firsts = grp["first_doc"].to_numpy(np.int64)
        self.lasts = grp["last_doc"].to_numpy(np.int64)
        # block-max bounds at this request's avgdl, from the impacts
        imp_tf = grp["imp_tf"].tolist()
        starts = np.cumsum([0] + [len(a) for a in imp_tf[:-1]])
        parts = bm25_part(np.concatenate(imp_tf).astype(np.int64),
                          np.concatenate(grp["imp_dl"].tolist()).astype(np.int64),
                          avgdl)
        self.bounds = idf * np.maximum.reduceat(parts, starts)
        self.docs_bins = grp["docs_bin"].tolist()
        self.tfs_bins = grp["tfs_bin"].tolist()
        self.dls_bins = grp["dls_bin"].tolist()
        # positional layout only; read by positions(), never by decode()
        self.pos_bins = grp["pos_bin"].tolist() if "pos_bin" in grp else None
        self.pos = 0
        self.cache: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        self._avgdl = avgdl

    def active(self) -> bool:
        return self.pos < len(self.firsts)

    def decode(self, i: int) -> tuple[np.ndarray, np.ndarray]:
        """(doc_ids, exact scores) for block i."""
        hit = self.cache.get(i)
        if hit is not None:
            return hit
        gaps = varbyte_decode(self.docs_bins[i])
        docs = np.cumsum(gaps, dtype=np.uint64).astype(np.int64)
        tfs = varbyte_decode(self.tfs_bins[i]).astype(np.int64)
        dls = varbyte_decode(self.dls_bins[i]).astype(np.int64)
        scores = self.idf * bm25_part(tfs, dls, self._avgdl)
        self.cache[i] = (docs, scores)
        return docs, scores

    def positions(self, i: int) -> tuple[np.ndarray, np.ndarray]:
        """(positions, offsets) of block i on the positional layout:
        posting j's positions are positions[offsets[j] : offsets[j + 1]].
        Each posting's tf is the length prefix of its position list, so
        the block's tfs frame its pos_bin."""
        tfs = varbyte_decode(self.tfs_bins[i]).astype(np.int64)
        positions = segmented_positions(varbyte_decode(self.pos_bins[i]), tfs)
        return positions, np.concatenate(([0], np.cumsum(tfs)))

    def overlapping(self, cand: np.ndarray) -> np.ndarray:
        """Indices of the blocks whose [first_doc, last_doc] range holds
        a doc of the sorted ``cand``; the others stay undecoded (the
        skip)."""
        lo = np.searchsorted(cand, self.firsts, side="left")
        hit = lo < len(cand)
        hit[hit] = cand[lo[hit]] <= self.lasts[hit]
        return np.flatnonzero(hit)

    def gather(self, cand: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Decoded (docs, scores) of the blocks overlapping ``cand``."""
        parts = [self.decode(i) for i in self.overlapping(cand)]
        if not parts:
            return np.array([], dtype=np.int64), np.array([], dtype=np.float64)
        return (np.concatenate([d for d, _ in parts]),
                np.concatenate([sc for _, sc in parts]))


def _wand_one_group(
    pdf: pd.DataFrame,
    k: int,
    idfs: dict[str, float],
    avgdl: float,
    theta0: float = -math.inf,
    allowed: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """Exact top-k of one (query, shard) group with block-max pruning.

    ``theta0`` is an externally-proven score floor (the θ cascade: the
    kth score of an already-scored shard). Rank-safe: it only *skips*
    docs that provably cannot reach the global top-k (k docs with score
    ≥ theta0 already exist elsewhere); the tie guard keeps exact-θ
    boundary docs, and the global merge re-ranks exactly.

    ``allowed`` — sorted int64 array of admissible doc_ids in this shard
    (Solr fq parity). Disallowed docs are masked BEFORE heap insertion:
    θ then lower-bounds the kth *admissible* score, which keeps the
    block-max prune rank-safe under the filter (an inflated θ from a
    disallowed doc could otherwise skip admissible ones). Block upper
    bounds need no change — they stay valid upper bounds for the
    admissible subset."""
    cursors = [
        _TermCursor(term, idfs[term], grp, avgdl)
        for term, grp in pdf.groupby("term")
        if term in idfs
    ]
    cursors.sort(key=lambda c: c.term)  # summation order: term asc
    heap: list[tuple[float, int]] = []  # (score, -doc_id) min-heap of top-k
    low_water = -1

    while True:
        active = [(c.firsts[c.pos], c.lasts[c.pos], c.bounds[c.pos], ci)
                  for ci, c in enumerate(cursors) if c.active()]
        if not active:
            break
        active.sort()
        theta = heap[0][0] if len(heap) == k else -math.inf
        theta = max(theta, theta0)
        guard = 1e-12 * max(1.0, abs(theta)) if theta > -math.inf else 0.0

        cum, pivot = 0.0, -1
        for i, (_f, _l, bd, _ci) in enumerate(active):
            cum += bd
            if cum >= theta - guard:
                pivot = i
                break

        if pivot == -1:
            # Even the sum of every current bound is < θ: docs up to the
            # smallest current last_doc are fully covered → skip them.
            frontier = min(l for _f, l, _b, _ci in active)
            for _f, l, _b, ci in active:
                if l <= frontier:
                    cursors[ci].pos += 1
            low_water = max(low_water, frontier)
            continue

        pivot_first, pivot_last = active[pivot][0], active[pivot][1]
        # Prefix blocks ending before the pivot range hold only docs whose
        # upper bound is < θ (prefix-sum argument): skip them undecoded.
        advanced = False
        for _f, l, _b, ci in active[:pivot]:
            if l < pivot_first:
                cursors[ci].pos += 1
                advanced = True
        if advanced:
            continue

        # Evaluate range (low_water, pivot_last] exactly. Coverage: decode
        # every cursor-forward block overlapping the range, per term.
        lo = max(pivot_first, low_water + 1)
        hi = pivot_last
        doc_arrays, score_arrays = [], []
        for c in cursors:  # term-ascending → deterministic summation order
            j = c.pos
            while j < len(c.firsts) and c.firsts[j] <= hi:
                if c.lasts[j] >= lo:
                    docs, scores = c.decode(j)
                    m = (docs >= lo) & (docs <= hi)
                    if m.any():
                        doc_arrays.append(docs[m])
                        score_arrays.append(scores[m])
                j += 1
        if doc_arrays:
            alldocs = np.concatenate(doc_arrays)
            allscores = np.concatenate(score_arrays)
            uniq, inv = np.unique(alldocs, return_inverse=True)
            sums = np.zeros(len(uniq), dtype=np.float64)
            # np.add.at accumulates sequentially in appearance order —
            # which is term-ascending by construction.
            np.add.at(sums, inv, allscores)
            if allowed is not None and len(uniq):
                # sorted-membership mask (both arrays doc-ordered)
                pos = np.searchsorted(allowed, uniq)
                in_range = pos < len(allowed)
                keep = np.zeros(len(uniq), dtype=bool)
                keep[in_range] = allowed[pos[in_range]] == uniq[in_range]
                uniq, sums = uniq[keep], sums[keep]
            for d, s in zip(uniq.tolist(), sums.tolist()):
                item = (s, -d)
                if len(heap) < k:
                    heapq.heappush(heap, item)
                elif item > heap[0]:
                    heapq.heapreplace(heap, item)
        # Advance cursors past blocks fully consumed by this range.
        for c in cursors:
            while c.active() and c.lasts[c.pos] <= hi:
                c.pos += 1
        low_water = max(low_water, hi)

    return [(-nd, s) for s, nd in heap]


def _and_one_group(
    pdf: pd.DataFrame, idfs: dict[str, float], avgdl: float, n_terms: int
) -> tuple[np.ndarray, np.ndarray, list[_TermCursor]]:
    """Exact conjunctive (MUST) intersection of one (query, shard) group
    with block skipping: docs are candidates only while present in EVERY
    term's postings, so the rarest term drives and other terms decode
    only blocks overlapping the shrinking candidate set. Doc-range
    sharding keeps a doc's postings for all terms in one shard, so
    per-shard intersection is globally correct.

    Returns (candidate docs ascending, their AND scores, the
    term-ordered cursors with every overlapping block already decoded).
    The phrase path gates these candidates by position and keeps the
    scores."""
    cursors = [
        _TermCursor(term, idfs[term], grp, avgdl)
        for term, grp in pdf.groupby("term")
        if term in idfs
    ]
    if len(cursors) < n_terms:  # a required term has no postings here
        return np.array([], dtype=np.int64), np.array([], dtype=np.float64), []
    cursors.sort(key=lambda c: c.term)  # summation order: term asc

    # Pass 1 — intersect: drive with the fewest-blocks term, shrink the
    # candidate set through every other term with block skipping.
    drive = min(range(len(cursors)), key=lambda i: len(cursors[i].firsts))
    dc = cursors[drive]
    cand = (
        np.concatenate([dc.decode(i)[0] for i in range(len(dc.firsts))])
        if len(dc.firsts)
        else np.array([], dtype=np.int64)
    )
    for ci, c in enumerate(cursors):
        if ci == drive or not len(cand):
            continue
        docs, _ = c.gather(cand)
        cand = cand[np.isin(cand, docs)]
    if not len(cand):
        return cand, np.array([], dtype=np.float64), cursors

    # Pass 2 — sum contributions in ascending-term order (the oracle's
    # bit-identity contract); decodes hit the pass-1 cache.
    total = np.zeros(len(cand), dtype=np.float64)
    for c in cursors:
        docs, scores = c.gather(cand)
        mask = np.isin(docs, cand)
        # docs[mask] is doc-ordered and equals cand element-wise
        total = total + scores[mask]
    return cand, total, cursors


def _cand_frame(query_id: str, res: list[tuple[int, float]]) -> pd.DataFrame:
    """The (query_id, doc_id, score) frame every group runner returns."""
    return pd.DataFrame(
        {"query_id": query_id, "doc_id": [d for d, _ in res],
         "score": [s for _, s in res]}
    )


def _wand_run_group(key, pdf: pd.DataFrame) -> pd.DataFrame:
    """WAND group runner — module-level and closure-free (per-query k /
    per-term idf / avgdl ride the joined query_terms columns) so
    apply_grouped_cached can register its UDF once per session. The
    cascade's second phase joins a ``theta0`` column (the query's
    floor); without it, or where it is NULL, θ0 is -inf."""
    query_id = key[0]
    k = int(pdf["k"].iloc[0])
    avgdl = float(pdf["avgdl"].iloc[0])
    idfs = dict(zip(pdf["term"], (float(x) for x in pdf["idf"])))
    theta0 = float(pdf["theta0"].iloc[0]) if "theta0" in pdf else math.nan
    return _cand_frame(query_id, _wand_one_group(
        pdf, k, idfs, avgdl, theta0=-math.inf if math.isnan(theta0) else theta0
    ))


def _wand_run_filtered(key, blocks_pdf: pd.DataFrame, allowed_pdf: pd.DataFrame) -> pd.DataFrame:
    """Filtered-WAND cogroup runner, closure-free (see _wand_run_group;
    k/idf/avgdl ride the blocks side's joined query_terms columns)."""
    query_id = key[0]
    if len(blocks_pdf) == 0 or len(allowed_pdf) == 0:
        return _cand_frame(query_id, [])  # no postings here, or nothing admissible
    k = int(blocks_pdf["k"].iloc[0])
    avgdl = float(blocks_pdf["avgdl"].iloc[0])
    idfs = dict(zip(blocks_pdf["term"], (float(x) for x in blocks_pdf["idf"])))
    allowed = np.asarray(allowed_pdf["allowed"].iat[0], dtype=np.int64)
    return _cand_frame(
        query_id, _wand_one_group(blocks_pdf, k, idfs, avgdl, allowed=allowed)
    )


def _and_run_group(key, pdf: pd.DataFrame) -> pd.DataFrame:
    """Conjunctive group runner, closure-free (see _wand_run_group)."""
    query_id = key[0]
    n_terms = int(pdf["n_terms"].iloc[0])
    avgdl = float(pdf["avgdl"].iloc[0])
    idfs = dict(zip(pdf["term"], (float(x) for x in pdf["idf"])))
    cand, total, _ = _and_one_group(pdf, idfs, avgdl, n_terms)
    return _cand_frame(query_id, list(zip(cand.tolist(), total.tolist())))


def and_topk(
    spark: SparkSession,
    blocks: DataFrame,
    dictionary: DataFrame,
    stats: DataFrame,
    queries: list[tuple[str, list[str], int]],
    doc_filter: DataFrame | None = None,
    stats_row=None,
    idfs: dict[str, float] | None = None,
) -> DataFrame:
    """Conjunctive (Lucene MUST) top-k over the block index: per-shard
    intersection with block skipping + exact global merge. A query term
    absent from the whole index empties that query (MUST semantics,
    mirroring exact_topk mode='and' / oracle mode='and').

    ``doc_filter`` (Solr fq): semi-join on the CANDIDATE rows before the
    final top-k — exact under AND semantics because the per-shard
    intersection scores every surviving doc exactly (no θ-dependent
    pruning that an inadmissible doc could inflate).

    ``stats_row``/``idfs``: see :func:`wand_topk` — shared batch
    precompute from the boolean router."""
    all_terms = sorted({t for _, ts, _ in queries for t in ts})
    stats_row, idfs = stats_and_idfs(dictionary, stats, all_terms, stats_row, idfs)
    avgdl = float(stats_row["avgdl"])
    queries = [q for q in queries if all(t in idfs for t in q[1])]
    if not queries or not idfs:
        # not idfs: only zero-term queries survive the filter above, and
        # those matched nothing on the old empty-isin path either
        return spark.createDataFrame([], schema=TOPK_SCHEMA)
    ks = {qid: k for qid, _, k in queries}
    n_terms = {qid: len(set(ts)) for qid, ts, _ in queries}

    # per-query/term parameters ride the tiny VALUES table (so the
    # group runner stays closure-free — see _and_run_group); float
    # literals render via repr()+CAST, bit-exact
    qrows = [
        (qid, t, idfs[t], n_terms[qid], avgdl)
        for qid, ts, _ in queries
        for t in sorted(set(ts))
    ]
    query_terms = values_df(
        spark, qrows, ["query_id", "term", "idf", "n_terms", "avgdl"]
    )
    cand = apply_grouped_cached(
        _pinned_scan(spark, blocks, query_terms, idfs, "n_terms"),
        ["query_id", "shard"], _and_run_group, _CAND_SCHEMA,
    )
    if doc_filter is not None:
        cand = cand.join(doc_filter.select("doc_id"), "doc_id", "semi")
    return topk(cand, ks, n_docs=int(stats_row["n_docs"]))


def wand_topk(
    spark: SparkSession,
    blocks: DataFrame,
    dictionary: DataFrame,
    stats: DataFrame,
    queries: list[tuple[str, list[str], int]],
    theta_cascade: bool = True,
    doc_filter: DataFrame | None = None,
    shard_span: int | None = None,
    stats_row=None,
    idfs: dict[str, float] | None = None,
) -> DataFrame:
    """Batch top-k via per-(query, shard) WAND + exact global merge.

    ``doc_filter`` (+ required ``shard_span``, the build's doc-range
    width) runs FILTERED WAND — Solr fq parity, the reference ANDs
    field predicates into every query (WorkOrder.py:702-707). The
    admissible doc set is grouped into one sorted array per shard
    (bounded by shard_span docs ≈ the per-segment filter bitset Lucene
    caches) and cogrouped with the posting blocks on (query_id, shard),
    so the WAND loop masks disallowed docs before its heap — pruning
    stays rank-safe under the filter (see _wand_one_group). Scoring is
    unchanged (idf/avgdl corpus-wide, exactly like fq). The filtered
    path runs single-phase (no θ cascade).

    With ``theta_cascade`` (the scale refinement): the single hottest
    shard per query (most matching blocks — block counts come from the
    already-tiny blocks metadata, no decode) is WANDed first with
    θ=-inf; its kth score is then broadcast as the initial θ floor for
    every remaining shard, so they prune from the first block instead
    of warming up their local heaps from -inf. At web scale this turns
    millions of cold per-shard loops into pre-pruned ones. Rank-safe
    (see _wand_one_group) and rank-identity-tested in tests/test_wand.

    ``stats_row``/``idfs``: batch callers (boolean_topk's router) pass
    both — the already-collected corpus stats and a term→idf map
    covering this batch's terms — or neither, so the routed sub-engines
    don't each re-run the stats/dictionary driver job (see
    :func:`~spcht_spark.index.query.stats_and_idfs`)."""
    all_terms = sorted({t for _, ts, _ in queries for t in ts})
    stats_row, idfs = stats_and_idfs(dictionary, stats, all_terms, stats_row, idfs)
    avgdl = float(stats_row["avgdl"])
    if not idfs:
        return spark.createDataFrame([], schema=TOPK_SCHEMA)
    ks = {qid: k for qid, _, k in queries}

    # per-query k / per-term idf / avgdl ride the VALUES table so the
    # single-phase group runner can be closure-free (_wand_run_group);
    # the cascade/filtered runners below ignore the extra columns
    qrows = [
        (qid, t, idfs[t], ks[qid], avgdl)
        for qid, ts, _ in queries
        for t in sorted(set(ts))
        if t in idfs
    ]
    query_terms = values_df(
        spark, qrows, ["query_id", "term", "idf", "k", "avgdl"]
    )

    def make_hit():
        # hit frame for the cascade/filtered paths, without the columns
        # the runners never read; the single-phase path below builds its
        # pruned+pinned variant as one statement and never constructs this
        return blocks.where(f"term IN ({sql_in(sorted(idfs))})").join(
            F.broadcast(query_terms), "term"
        ).drop("term_hash", "n_docs", "cf")

    if doc_filter is not None:
        if shard_span is None:
            raise ValueError("filtered WAND needs shard_span (the build's doc-range width)")
        allowed_by_shard = (
            doc_filter.select(
                (F.col("doc_id") / F.lit(int(shard_span))).cast("long").alias("shard"),
                "doc_id",
            )
            .groupBy("shard")
            .agg(F.array_sort(F.collect_list("doc_id")).alias("allowed"))
        )
        # replicate the per-shard array per query (|queries| is tiny) so
        # the cogroup key matches the blocks' (query_id, shard) grouping
        qdf = values_df(spark, [(qid,) for qid in sorted(ks)], ["query_id"])
        ga = allowed_by_shard.crossJoin(F.broadcast(qdf))

        cand = apply_cogrouped_cached(
            make_hit(), ga,
            ["query_id", "shard"], _wand_run_filtered, _CAND_SCHEMA,
        )
        return topk(cand, ks, n_docs=int(stats_row["n_docs"]))

    if theta_cascade:
        # Measured (BENCH.md): ~30% fewer block decodes on 2-term queries
        # once shards hold dozens of blocks per term; at a single shard
        # the extra barrier is pure overhead — skip it. The cascade
        # also gates on batch SIZE (round-4 regression): its two extra
        # barriers (seed checkpoint + θ collect) only pay once there is
        # real decode work to prune. The gate is now ZERO driver jobs
        # (round-5: the metadata-probe job itself was a measurable
        # barrier in page-of-10 batches): df per term is recovered by
        # inverting BM25 idf — idf = ln(1 + (N - df + .5)/(df + .5)) is
        # monotone, so df = (N + .5(1 - x))/(1 + x) with x = e^idf - 1 —
        # and Σ ceil(df/BLOCK_SIZE) LOWER-BOUNDS the pruned block count
        # (splitting a term's postings across shards only adds blocks).
        # Below the threshold the cascade is provably not worth it; any
        # web-scale query clears the bound instantly and only then pays
        # the exact probe for the >1-shard check.
        n_docs = int(stats_row["n_docs"])
        blocks_lo = 0
        for qid, ts, _ in queries:
            for t in set(ts):
                if t not in idfs:  # index-absent term: no blocks
                    continue
                x = math.exp(idfs[t]) - 1.0
                df_est = max(1.0, (n_docs + 0.5 * (1.0 - x)) / (1.0 + x))
                blocks_lo += int(math.ceil(df_est / _BLOCK_SIZE))
        theta_cascade = blocks_lo >= _CASCADE_MIN_BLOCKS
        if theta_cascade:
            probe = make_hit().agg(
                F.countDistinct("shard").alias("n_shards"),
                F.count(F.lit(1)).alias("n_blocks"),
            ).collect()[0]
            theta_cascade = bool(
                probe["n_shards"] and probe["n_shards"] > 1
                and int(probe["n_blocks"]) >= _CASCADE_MIN_BLOCKS
            )
    if not theta_cascade:
        cand = apply_grouped_cached(
            _pinned_scan(spark, blocks, query_terms, idfs, "k"),
            ["query_id", "shard"], _wand_run_group, _CAND_SCHEMA,
        )
        return topk(cand, ks, n_docs=int(stats_row["n_docs"]))

    # two-phase execution re-reads `hit` (seed wave, then the rest) —
    # materialize it once; the single-phase path above stays a pure
    # lazy plan (AQE coalesces its shuffles, no RDD conversion)
    hit = make_hit().localCheckpoint(eager=False)

    # Phase 1 — seed: hottest shard per query (ties: lowest shard).
    seeds = topn(
        hit.groupBy("query_id", "shard").agg(F.count(F.lit(1)).alias("n_blocks")),
        ["query_id"], "n_blocks DESC, shard ASC", 1, rank="rn",
    ).select("query_id", "shard")
    seed_cand = apply_grouped_cached(
        _pin_groups(hit.join(F.broadcast(seeds), ["query_id", "shard"])),
        ["query_id", "shard"], _wand_run_group, _CAND_SCHEMA,
    ).localCheckpoint()  # collected once for θ, reused in the union
    theta0s: dict[str, float] = {}
    for r in seed_cand.groupBy("query_id").agg(
        F.min("score").alias("kth"), F.count(F.lit(1)).alias("n")
    ).collect():
        if int(r["n"]) >= ks[r["query_id"]]:  # floor only if heap filled
            theta0s[r["query_id"]] = float(r["kth"])

    # Phase 2 — remaining shards start at the broadcast θ floor, which
    # rides the data as a theta0 column (NULL: the seed heap never
    # filled), so the cached runner serves this phase too.
    rest = hit.join(F.broadcast(seeds), ["query_id", "shard"], "left_anti")
    if theta0s:
        floors = values_df(spark, sorted(theta0s.items()), ["query_id", "theta0"])
        rest = rest.join(F.broadcast(floors), "query_id", "left")
    rest_cand = apply_grouped_cached(
        _pin_groups(rest),
        ["query_id", "shard"], _wand_run_group, _CAND_SCHEMA,
    )
    return topk(seed_cand.unionByName(rest_cand), ks, n_docs=int(stats_row["n_docs"]))
