"""Index build: SPIMI-style posting construction with explicit skew
handling (BASELINE.json ``north_rule``: "partitioning / shuffle / skew
handled explicitly").

Stages (each a checkpointable parquet table, see spcht_spark.plans):

  tokens      (doc_id, term, tf, dl)   — Arrow-UDF SPIMI map side (dl
                                         computed in the same batch)
  doclens     (doc_id, dl)             — dedup of the carried dl
  dictionary  (term, term_hash, df, cf)— groupBy(term)         [shuffle on term]
  stats       (n_docs, avgdl, total_tokens) — global agg
  blocks      (term, term_hash, shard, block_seq, first_doc, last_doc,
               n_docs, docs_bin, tfs_bin, dls_bin, imp_tf, imp_dl, cf
               [, pos_bin on the positional layout])

Skew strategy — doc-range sharding. Zipfian code tokens ('{', 'return',
…) hold a huge share of all postings; a plain groupBy(term) would give
one straggler task per hot term. Instead every posting is keyed by
(term, shard) where ``shard = doc_id // shard_span`` is a fixed-width
document range. Properties:

* bounded groups: a (term, shard) group holds at most shard_span docs,
  independent of term heat — hot terms fan out over many tasks;
* no merge pass: shards are contiguous doc ranges, so per-term global
  block order is (shard asc, block_seq asc) with no interleaving;
* parallel queries with exact merge: docs are disjoint across shards,
  so per-(query, shard) top-k results merge exactly (union → top-k) —
  the classic document-sharded search-engine layout (what the
  reference's upstream Solr does across its shards; Spcht queries it
  at /root/reference/Spcht/Core/WorkOrder.py:693 but never builds it).

Blocks additionally carry varbyte doc lengths (``dls_bin``) so the WAND
scorer computes exact BM25 inside the UDF without a doclens join, and
their competitive impacts (``imp_tf``, ``imp_dl``; Lucene's ``Impacts``,
Ding & Suel SIGIR 2011): the (tf, dl) pairs no other posting of the
block dominates. The BM25 part tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) is
monotone in tf and in dl, so its max over the impacts equals the block
max at ANY avgdl: queries take the block-max bound at their own avgdl,
and no block depends on corpus statistics.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spcht_spark.index.compress import (
    BLOCK_SIZE,
    varbyte_encode_segments,
)
from spcht_spark.index.tokenize import tokens
from spcht_spark.oracle import B, K1
from spcht_spark.session import shuffle_parallelism

DEFAULT_SHARD_SPAN = 1 << 17  # 131072 docs / shard; override per scale

BLOCKS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("term_hash", T.LongType(), False),
        T.StructField("shard", T.LongType(), False),
        T.StructField("block_seq", T.IntegerType(), False),
        T.StructField("first_doc", T.LongType(), False),
        T.StructField("last_doc", T.LongType(), False),
        T.StructField("n_docs", T.IntegerType(), False),
        T.StructField("docs_bin", T.BinaryType(), False),
        T.StructField("tfs_bin", T.BinaryType(), False),
        T.StructField("dls_bin", T.BinaryType(), False),
        T.StructField("imp_tf", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("imp_dl", T.ArrayType(T.IntegerType(), False), False),
        # per-block Σtf — lets the dictionary (df = Σ n_docs, cf = Σ cf)
        # aggregate the tiny blocks table instead of re-shuffling every
        # token row a second time (SPIMI: the posting write pass already
        # sees each token once; guide §2.4 "remove shuffles outright")
        T.StructField("cf", T.LongType(), False),
    ]
)

# The positional layout: BLOCKS_SCHEMA plus per-block position bytes —
# per posting, the term's positions in the doc, delta-gapped with the
# chain reset per posting, varbyte-encoded, concatenated in doc order.
POS_BLOCKS_SCHEMA = T.StructType(
    BLOCKS_SCHEMA.fields + [T.StructField("pos_bin", T.BinaryType(), False)]
)


@dataclass
class IndexTables:
    tokens: DataFrame | None  # optional stage — queries never read it
    doclens: DataFrame
    dictionary: DataFrame
    stats: DataFrame
    blocks: DataFrame
    # Build metadata carried with the handle so query paths need no
    # out-of-band knowledge: shard_span is the doc-range width (doc →
    # shard is a pure function — filtered WAND and explain need it);
    # analyzer is the content normalization applied at build time, and
    # query-time parsing MUST fold with the SAME analyzer.
    shard_span: int | None = None
    analyzer: str | None = None
    # tokenizer spec ('arrow' | 'ws') — term vectors re-analyze
    # stored content and must tokenize exactly as the build did
    tokenizer: str | None = None


def apply_analyzer(corpus: DataFrame, analyzer: str | None) -> DataFrame:
    """Apply the CONTENT-level analyzer steps, JVM-side (one
    whole-stage-codegen projection, no Python). ``None`` keeps content
    verbatim (case-preserving — right for source code, where ``Return``
    and ``return`` are different identifiers); ``"lowercase"`` folds
    case like Solr's LowerCaseFilter. Token-level steps (``stop``,
    ``sstem`` — spcht_spark.index.analyze) run inside the tokenizers.
    The SAME spec must be given to parse_query/search at query time
    (Solr runs one analyzer chain at index and query time)."""
    from spcht_spark.index.analyze import content_steps

    if "lowercase" in content_steps(analyzer):  # validates the full spec
        corpus = corpus.withColumn("content", F.lower("content"))
    return corpus


def build_tokens(
    corpus: DataFrame, tokenizer: str = "arrow", analyzer: str | None = None
) -> DataFrame:
    # Underpartitioned input starves the tokenize stage of tasks: a
    # small-but-dense corpus parquet (few files / under
    # maxPartitionBytes splits) yields fewer input partitions than
    # cores, and NOTHING downstream recovers the lost parallelism
    # (mapInPandas preserves partitioning). At 100 TB the scan always
    # has >> cores splits and this guard never fires; the repartition
    # only pays (one corpus shuffle) when the input would otherwise
    # idle most of the cluster.
    par = corpus.sparkSession.sparkContext.defaultParallelism
    if corpus.rdd.getNumPartitions() < par:
        corpus = corpus.repartition(par * 2)
    return tokens(apply_analyzer(corpus, analyzer), tokenizer, analyzer)


def bm25_part(tfs: np.ndarray, dls: np.ndarray, avgdl: float) -> np.ndarray:
    """Per-posting BM25 part tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) in
    float64: oracle.term_score without its idf factor, the expression
    behind every block-max bound and every WAND/AND score (bit-exact
    contract)."""
    return (tfs * (K1 + 1.0)) / (tfs + K1 * (1.0 - B + B * (dls / avgdl)))


def block_impacts(
    tfs: np.ndarray, dls: np.ndarray, blk_starts: np.ndarray
) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """Per block (postings ``blk_starts[i]`` up to the next start), the
    (tf, dl) pairs no other posting dominates (tf′ ≥ tf and dl′ ≤ dl),
    as int32 (imp_tf, imp_dl) arrays in tf-ascending order — a pure
    function of the block's postings.

    No per-block loop: one argsort of the int64 key (block, maxtf − tf,
    dl), then a posting is kept when its dl is below every dl before it
    in its block — one ``np.minimum.accumulate`` over dls offset below
    the previous block's. Blocks are keyed in reverse, so reversing the
    kept rows gives block order with tf ascending."""
    n, nb = len(tfs), len(blk_starts)
    rblk = np.repeat(np.arange(nb - 1, -1, -1, dtype=np.int64),
                     np.diff(np.append(blk_starts, n)))
    tspan, dspan = int(tfs.max()) + 1, int(dls.max()) + 1
    if nb * tspan * dspan < 1 << 63:
        order = np.argsort((rblk * tspan + (tspan - 1 - tfs)) * dspan + dls,
                           kind="stable")
    else:  # the single key would overflow int64: same order, three keys
        order = np.lexsort((dls, -tfs, rblk))
    shifted = dls[order] - rblk[order] * dspan
    keep = np.ones(n, dtype=bool)
    keep[1:] = shifted[1:] < np.minimum.accumulate(shifted)[:-1]
    kept = order[keep][::-1]
    cuts = np.cumsum(np.bincount(nb - 1 - rblk[kept], minlength=nb))[:-1]
    return (np.split(tfs[kept].astype(np.int32), cuts),
            np.split(dls[kept].astype(np.int32), cuts))


def build_doclens(tokens: DataFrame) -> DataFrame:
    # tokens already carry dl (computed in the tokenize pass); dedup to
    # one row per doc. max == the single distinct value, deterministic.
    return tokens.groupBy("doc_id").agg(F.max("dl").alias("dl"))


def dictionary_from_blocks(blocks: DataFrame) -> DataFrame:
    """(term, df, cf, term_hash) aggregated from the posting blocks.

    Value-identical to a (count, Σtf) groupBy over the token rows (exact
    integer sums: every doc appears in exactly one (term, shard) group,
    so Σ n_docs over a term's blocks IS its df, and the cf lane sums the
    same tfs),
    but the input is the blocks table — |postings|/128 rows — instead
    of a second full shuffle of every token row."""
    return blocks.groupBy("term").agg(
        F.sum("n_docs").cast("long").alias("df"), F.sum("cf").alias("cf")
    ).withColumn("term_hash", F.xxhash64("term"))


def build_stats(doclens: DataFrame) -> DataFrame:
    # dl sums are exact int64, so avgdl = sum/count is deterministic.
    return doclens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_tokens"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )


def build_blocks(
    tokens: DataFrame,
    _avgdl: object = None,  # ignored; perfbench's _build_layers still passes one
    shard_span: int = DEFAULT_SHARD_SPAN,
) -> DataFrame:
    """Compressed posting blocks keyed by (term, doc-range shard).

    ONE wide shuffle on (term, shard) and nothing else: tokens carry dl
    from the tokenize pass, so the former doclens equi-join (the build's
    second-largest exchange at scale) no longer exists.

    Positional tokens (a per-posting ``pos_bin`` column, see
    :func:`~spcht_spark.index.tokenize.tokens_positional`) ride the same
    pass: each block's ``pos_bin`` is the concatenation of its
    postings' position bytes, and the output gains that column
    (:data:`POS_BLOCKS_SCHEMA`)."""
    with_dl = tokens.withColumn(
        "shard", (F.col("doc_id") / F.lit(shard_span)).cast("long")
    )

    bs = BLOCK_SIZE
    positional = "pos_bin" in tokens.columns

    def encode_rows(pdf: pd.DataFrame) -> pd.DataFrame:
        # One numpy pass over a run of COMPLETE (term, shard) groups,
        # sorted by (term, shard, doc_id): group bounds via flatnonzero,
        # block bounds derived, one varbyte pass per lane sliced at
        # block starts (varbyte_encode_segments). Bit-identical to the
        # former per-group encode: same doc order, same per-group block
        # boundaries, same delta reset at block starts (pinned by
        # tests/test_index_update's byte-equality contract).
        n = len(pdf)
        terms = pdf["term"].to_numpy()
        shards = pdf["shard"].to_numpy(np.int64)
        docs = pdf["doc_id"].to_numpy(np.int64)
        tfs = pdf["tf"].to_numpy(np.int64)
        dls = pdf["dl"].to_numpy(np.int64)

        g_change = np.flatnonzero(
            (terms[1:] != terms[:-1]) | (shards[1:] != shards[:-1])
        ) + 1
        g_starts = np.concatenate(([0], g_change))
        g_ends = np.concatenate((g_change, [n]))
        # block starts: per group, every bs-th posting
        blk_starts = np.concatenate(
            [np.arange(s, e, bs) for s, e in zip(g_starts, g_ends)]
        )
        blk_group = np.repeat(
            np.arange(len(g_starts)),
            [(e - s + bs - 1) // bs for s, e in zip(g_starts, g_ends)],
        )
        blk_ends = np.minimum(blk_starts + bs, g_ends[blk_group])

        imp_tf, imp_dl = block_impacts(tfs, dls, blk_starts)
        gaps = np.diff(docs.astype(np.uint64), prepend=np.uint64(0))
        gaps[blk_starts] = docs[blk_starts]  # delta chain resets per block
        docs_bins = varbyte_encode_segments(gaps, blk_starts)
        tfs_bins = varbyte_encode_segments(tfs.astype(np.uint64), blk_starts)
        dls_bins = varbyte_encode_segments(dls.astype(np.uint64), blk_starts)
        seq = np.arange(len(blk_starts), dtype=np.int64)
        first_blk = np.concatenate(([0], np.cumsum(np.bincount(blk_group))))
        out = pd.DataFrame(
            {
                "term": terms[blk_starts],
                "term_hash": np.int64(0),
                "shard": shards[blk_starts],
                "block_seq": (seq - first_blk[blk_group]).astype(np.int32),
                "first_doc": docs[blk_starts],
                "last_doc": docs[blk_ends - 1],
                "n_docs": (blk_ends - blk_starts).astype(np.int32),
                "docs_bin": docs_bins,
                "tfs_bin": tfs_bins,
                "dls_bin": dls_bins,
                "imp_tf": imp_tf,
                "imp_dl": imp_dl,
                "cf": np.add.reduceat(tfs, blk_starts),
            }
        )
        if positional:
            # tf is each posting's implicit length prefix, so the block
            # slice needs no extra framing
            pbins = pdf["pos_bin"].to_numpy()
            out["pos_bin"] = [
                b"".join(pbins[s:e]) for s, e in zip(blk_starts, blk_ends)
            ]
        return out

    def encode_partition(batches):
        # Arrow hands a partition over as MANY small record batches
        # (spark.sql.execution.arrow.maxRecordsPerBatch); a
        # (term, shard) group may span them, and encoding per tiny
        # batch would pay the numpy/pandas call overhead ~per 2k rows.
        # Buffer to ~64k rows, then encode all COMPLETE groups in one
        # pass and carry the trailing (possibly incomplete) group.
        # Memory stays bounded by the buffer + one group (≤ shard_span
        # postings) — the same order as the applyInPandas shape had.
        buf: list[pd.DataFrame] = []
        buffered = 0
        target = 1 << 16

        def drain(final: bool):
            nonlocal buf, buffered
            pdf = buf[0] if len(buf) == 1 else pd.concat(buf, ignore_index=True)
            n = len(pdf)
            if n == 0:
                buf, buffered = [], 0
                return None
            if final:
                buf, buffered = [], 0
                return encode_rows(pdf)
            terms = pdf["term"].to_numpy()
            shards = pdf["shard"].to_numpy(np.int64)
            g_change = np.flatnonzero(
                (terms[1:] != terms[:-1]) | (shards[1:] != shards[:-1])
            ) + 1
            if len(g_change) == 0:
                buf, buffered = [pdf], n  # one (possibly continuing) group
                return None
            cut = int(g_change[-1])  # first row of the final group
            carry = pdf.iloc[cut:].reset_index(drop=True)
            buf, buffered = [carry], len(carry)
            return encode_rows(pdf.iloc[:cut])

        for pdf in batches:
            if len(pdf) == 0:
                continue
            buf.append(pdf)
            buffered += len(pdf)
            if buffered >= target:
                out = drain(final=False)
                if out is not None:
                    yield out
        if buffered:
            out = drain(final=True)
            if out is not None:
                yield out

    # Keyed repartition pinned to the configured shuffle parallelism:
    # AQE coalesces by bytes, but this stage's cost is the Python
    # varbyte encode — on a small-byte token shuffle AQE would collapse
    # it to one task and serialize the encode (same fix as
    # index.wand._pin_groups; guide §2.5). The sort clusters each
    # partition by (term, shard, doc) so the map pass sees every group
    # contiguous and doc-ordered — the same grouping the applyInPandas
    # exchange provided, minus the per-group Python dispatch.
    n_shuffle = shuffle_parallelism(tokens.sparkSession)
    blocks = (
        with_dl.repartition(n_shuffle, "term", "shard")
        .sortWithinPartitions("term", "shard", "doc_id")
        .mapInPandas(
            encode_partition,
            schema=POS_BLOCKS_SCHEMA if positional else BLOCKS_SCHEMA,
        )
    )
    # term_hash recomputed column-side (cheap, avoids carrying it through
    # the pandas group).
    return blocks.withColumn("term_hash", F.xxhash64("term"))


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    tokenizer: str = "arrow",
    shard_span: int = DEFAULT_SHARD_SPAN,
    analyzer: str | None = None,
) -> IndexTables:
    """In-memory (un-checkpointed) build — the checkpointed, resumable
    variant lives in spcht_spark.plans.indexer.

    Tokens are materialized once (localCheckpoint): doclens, dictionary
    and blocks all branch from them, and without materialization each
    branch would re-run the tokenizer over the full corpus. The
    checkpoint is LAZY (``eager=False``): an eager localCheckpoint is
    its own driver barrier (a job + scheduling gap, ~0.1-0.2 s each at
    bench scale), while a lazy one materializes as part of the FIRST
    action that needs it."""
    tokens = build_tokens(corpus, tokenizer, analyzer=analyzer).localCheckpoint(
        eager=False
    )
    return index_from_tokens(tokens, shard_span, analyzer, tokenizer)


def index_from_tokens(
    tokens: DataFrame, shard_span: int, analyzer: str | None, tokenizer: str
) -> IndexTables:
    """doclens, stats, blocks and dictionary over materialized tokens
    (default or positional), all lazy: no block depends on avgdl, so
    nothing waits for the stats and the build runs no job of its own."""
    # doclens is read twice on every build (stats, and the caller
    # materializes/queries it) — each read otherwise re-aggregates the
    # full token table (a corpus-wide pass, measured ~0.6 s at bench
    # scale). Materialize the narrow (doc_id, dl) table once.
    doclens = build_doclens(tokens).localCheckpoint(eager=False)
    # blocks materialize once too: they ARE the index (compressed
    # postings), every query decodes them, and without materialization
    # each downstream action re-runs the whole encode shuffle. The
    # dictionary then aggregates the tiny blocks table (its df/cf ride
    # the cf lane) instead of re-shuffling every token row a second
    # time — one full token pass per build, SPIMI-style.
    blocks = build_blocks(tokens, shard_span=shard_span).localCheckpoint(
        eager=False
    )
    return IndexTables(
        tokens, doclens, dictionary_from_blocks(blocks), build_stats(doclens),
        blocks, shard_span=shard_span, analyzer=analyzer, tokenizer=tokenizer,
    )
