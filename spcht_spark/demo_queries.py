"""Driver-contract queries: Spark implementations + DuckDB oracle SQL.

Every entry maps a SURVEY.md §2 operator (or a training-data op) onto the
driver testdata tables (/root/testdata/sf*/). Column names/types are
aligned pairwise with the oracle SQL (driver hashes values after sorting
columns by name). Doubles are rounded on BOTH sides to absorb
sum-order/libm ulp differences; ranks order by round(score, 6) with an
id tie-break so ranking is deterministic in both engines.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------- helpers

# Session-scoped PLAN-HANDLE memo (optimization r06, guide §6 "file
# listing"): every `spark.read.parquet` pays a driver-side open (file
# listing + footer schema job, measured 30-90 ms each plus a ~40 ms
# inter-job gap), and the driver queries re-open the same immutable
# testdata tables on every call. Caching the lazy DataFrame HANDLE —
# never results, never rows — makes repeat opens free while every
# execution still scans the parquet from disk. Keyed by applicationId
# so a fresh session never sees another session's handles.
_TABLE_HANDLES: dict[tuple[str, str], DataFrame] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, f"{sf_dir}/{name}.parquet")
    df = _TABLE_HANDLES.get(key)
    if df is None:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        _TABLE_HANDLES[key] = df
    return df


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, term, tf, dl) over documents.text — whitespace tokens.

    One Arrow map pass (index.tokenize.tokens, rule 'ws'): tf and dl come
    out of the same per-batch inversion with zero exchanges, where the
    previous explode→groupBy shape shuffled every token row and left dl
    to a separate corpus-wide aggregation+join in each consumer (guide
    §2.4). Row-identical to the SQL oracle's string_split/GROUP BY.

    Size-gated underpartitioned-input guard (guide §2.5, "derive from
    input size"): a documents parquet written as one row group is ONE
    input split no matter what maxPartitionBytes says, and mapInPandas
    preserves partitioning — the whole tokenize pass then runs as a
    SINGLE task (event log: a 1-task stage under every bm25_topk /
    term_stats call). Above _TOKENIZE_SPLIT_MIN_BYTES the serial pass
    dominates and a round-robin shuffle to ≥ parallelism partitions
    wins outright; below it (the sf0.1 table is ~4 MB) the shuffle plus
    the extra per-task overhead of wide downstream stages cost MORE
    than the ~0.4 s serial tokenize saved (interleaved A/B,
    OPTIMIZATION_r06.md), so the guard stays off. The gate reads the
    file size from the filesystem — no Spark job."""
    from spcht_spark.index.tokenize import tokens

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("content")
    )
    nbytes = _path_bytes(f"{sf_dir}/documents.parquet")
    if nbytes >= _TOKENIZE_SPLIT_MIN_BYTES:
        par = spark.sparkContext.defaultParallelism
        if docs.rdd.getNumPartitions() < par:
            # ~16 MB of input text per task, at least one wave of cores
            docs = docs.repartition(
                min(par * 4, max(par, nbytes // (16 << 20)))
            )
    return tokens(docs, "ws")


# Parquet compresses the text ~3-4x, so 32 MB of file ≈ 100+ MB of
# content ≈ seconds of single-core tokenize — the break-even where the
# repartition shuffle starts paying for itself.
_TOKENIZE_SPLIT_MIN_BYTES = 32 << 20
_PATH_BYTES_MEMO: dict[str, int] = {}


def _path_bytes(path: str) -> int:
    """Total bytes under a local file/directory path (memoized; 0 when
    unreadable — e.g. a non-local filesystem, where the guard simply
    stays off and the scan's own split logic decides)."""
    hit = _PATH_BYTES_MEMO.get(path)
    if hit is None:
        hit = 0
        try:
            if os.path.isfile(path):
                hit = os.path.getsize(path)
            elif os.path.isdir(path):
                for root, _dirs, files in os.walk(path):
                    for f in files:
                        hit += os.path.getsize(os.path.join(root, f))
        except OSError:
            hit = 0
        _PATH_BYTES_MEMO[path] = hit
    return hit


_TOK_SQL = """
  tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
  tf AS (SELECT doc_id, term, count(*) AS tf
         FROM tok WHERE term <> '' GROUP BY doc_id, term)
"""

# BM25 demo query set over the documents table (hot + rare terms).
DOC_QUERIES: list[tuple[str, list[str]]] = [
    ("q_spark_join", ["spark", "join"]),
    ("q_rare_dup", ["dup"]),
    ("q_mix3", ["window", "stream", "hash"]),
    ("q_one", ["customer"]),
    ("q_hot4", ["join", "hash", "row", "batch"]),
]
DOC_K = 10

# -------------------------------------------------------- BM25 (flagship)

def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BM25 pipeline over `documents` — the flagship query.

    Mirrors the index engine's scoring (spcht_spark.index.query) but
    inline over the driver table so DuckDB can oracle-check it.

    The tf table feeds four branches (tf/df/dl/stats); without explicit
    materialization Catalyst re-derives the scan+explode lineage per
    branch (4 corpus scans — fatal at 100 TB, where the persisted-index
    build in spcht_spark.plans.indexer is the real answer). Here:
    localCheckpoint once, read four times."""
    # lazy: eager checkpointing is its own driver barrier; the first
    # branch stage that reads tf materializes it and the other three
    # read the persisted rows (same fold as the boolean router's scan)
    tf = _doc_tokens(spark, sf_dir).localCheckpoint(eager=False)
    # dl rides every token row (computed in the tokenize batch), so the
    # former corpus-wide dl aggregation + equi-join on doc_id is gone;
    # stats dedup the carried dl to one row per doc (narrow agg).
    # The whole post-tokenize pipeline is ONE df-parametrized sql
    # statement (one JVM plan analysis instead of ~12 incremental ops —
    # each op re-analyzes its whole tree, ~8-12 ms apiece on this
    # host; OPTIMIZATION_r06.md lever 17). Shapes preserved verbatim:
    # * tfq pre-filters the df agg to the query terms (guide §2.3 —
    #   Catalyst cannot push the join's term set into the aggregation);
    #   dl/stats stay corpus-wide, BM25 semantics;
    # * the 1-row stats side is broadcast (hint = the old F.broadcast);
    # * the two-stage salted top-k: per-(query, doc-hash-salt) partial
    #   top-k first, so no single reducer ever receives every candidate
    #   of one query (a straggler/OOM shape at 100× corpus); the union
    #   of per-salt top-k ⊇ global top-k, so the final narrow window
    #   over ≤ 64·k rows/query is exact.
    # Doubles via repr()+CAST (bit-exact; bare SQL decimals would parse
    # as DECIMAL and change the arithmetic).
    from spcht_spark.index.query import sql_double, sql_in

    qterms = sorted({t for _, ts in DOC_QUERIES for t in ts})
    q_vals = ", ".join(
        f"('{qid}', '{t}')" for qid, ts in DOC_QUERIES for t in ts
    )
    D = sql_double
    contrib = (
        f"ln({D(1.0)} + (n_docs - df + {D(0.5)}) / (df + {D(0.5)}))"
        f" * (tf * {D(2.2)})"
        f" / (tf + {D(1.2)} * ({D(0.25)} + {D(0.75)} * (dl / avgdl)))"
    )
    return spark.sql(
        f"""
WITH q (query_id, term) AS (VALUES {q_vals}),
  tfq AS (SELECT * FROM {{tf}} WHERE term IN ({sql_in(qterms)})),
  dft AS (SELECT term, count(1) AS df FROM tfq GROUP BY term),
  dl_docs AS (SELECT doc_id, max(dl) AS dl FROM {{tf}} GROUP BY doc_id),
  stats AS (SELECT count(1) AS n_docs,
                   CAST(sum(dl) AS DOUBLE) / count(1) AS avgdl FROM dl_docs),
  scored AS (
    SELECT /*+ BROADCAST(s) */ query_id, doc_id, sum({contrib}) AS raw
    FROM q JOIN dft USING (term) JOIN tfq USING (term) CROSS JOIN stats s
    GROUP BY query_id, doc_id),
  pre AS (
    SELECT query_id, doc_id, raw FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id,
        pmod(xxhash64(doc_id), 64)
        ORDER BY round(raw, 6) DESC, doc_id ASC) AS r1
      FROM scored) WHERE r1 <= {DOC_K})
SELECT query_id, rank, doc_id, round(raw, 4) AS score FROM (
  SELECT query_id, doc_id, raw, row_number() OVER (PARTITION BY query_id
    ORDER BY round(raw, 6) DESC, doc_id ASC) AS rank
  FROM pre) WHERE rank <= {DOC_K}
""",
        tf=tf,
    )


def _bm25_sql() -> str:
    vals = ", ".join(f"('{qid}', '{t}')" for qid, ts in DOC_QUERIES for t in ts)
    return f"""
WITH {_TOK_SQL},
  dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
  stats AS (SELECT count(*)::BIGINT AS n_docs,
                   (sum(dl)::DOUBLE / count(*)) AS avgdl FROM dl),
  dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
  q(query_id, term) AS (VALUES {vals}),
  scored AS (
    SELECT q.query_id, tf.doc_id,
           sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                * (tf.tf * 2.2)
                / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl))) ) AS raw
    FROM q JOIN dft USING (term) JOIN tf USING (term)
         JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
    GROUP BY q.query_id, tf.doc_id),
  ranked AS (
    SELECT query_id, doc_id, round(raw, 4) AS score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(raw, 6) DESC, doc_id)::INTEGER AS rank
    FROM scored)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DOC_K}
"""

# ------------------------------------- the real index engine, oracle-checked

def _index_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", F.col("text").alias("content"))


# Driver index layout: bump to invalidate cached on-disk builds.
_INDEX_LAYOUT_VERSION = 6  # v6: blocks carry impacts lanes, no avgdl bound
_INDEX_SHARD_SPAN = 1024
_INDEX_CACHE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".index_cache"
)


def _source_fingerprint(sf_dir: str) -> str:
    """Identity of documents.parquet (path + per-file size/mtime)."""
    import hashlib

    src = os.path.join(sf_dir, "documents.parquet")
    h = hashlib.sha256(f"{src}|v{_INDEX_LAYOUT_VERSION}".encode())
    paths = [src]
    if os.path.isdir(src):
        paths = sorted(
            os.path.join(r, f) for r, _d, fs in os.walk(src) for f in fs
        )
    for p in paths:
        st = os.stat(p)
        h.update(f"{p}|{st.st_size}|{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


# Open-searcher memo (optimization r06): resuming a COMPLETED work
# order still cost 7 manifest reads + 7 `spark.read.parquet` opens + a
# manifest rewrite per call — measured 0.49-0.73 s of pure driver-side
# fixed cost inside EVERY index_* query. Solr keeps its searcher open
# between requests; this memo is the same thing: it holds the lazy
# table HANDLES of the committed index (plans, not data, not results).
# Every query still reads the posting parquet at execution time. Keyed
# by (applicationId, source fingerprint): a fresh session re-opens, a
# changed source file re-fingerprints and re-builds.
_INDEX_HANDLES: dict[tuple[str, str], object] = {}


def _persisted_index(spark: SparkSession, sf_dir: str):
    """The committed on-disk index the driver queries run against.

    Builds ONCE per (source fingerprint) via the resumable work-order
    ladder (spcht_spark.plans.indexer) — exactly the layout a user
    queries in production: parquet blocks sorted by term, so the
    query-time ``term IN (...)`` prunes row groups via min/max stats
    (checked by scripts/plan_audit.py). Subsequent calls — the other
    index_* driver queries, repeat runs — hit the open-searcher memo
    (handle reuse, see _INDEX_HANDLES) or resume the completed order,
    never a rebuild. Replaces round 2's per-query in-memory rebuild
    (VERDICT.md "What's missing" #2)."""
    from spcht_spark.plans.indexer import index_order, run_index_order

    key = _source_fingerprint(sf_dir)
    memo_key = (spark.sparkContext.applicationId, key)
    hit = _INDEX_HANDLES.get(memo_key)
    if hit is not None:
        return hit
    workdir = os.path.join(_INDEX_CACHE_ROOT, key)
    order = index_order(
        workdir,
        run_id=f"driver-{key}",
        corpus_source=lambda s: _index_corpus(s, sf_dir),
        tokenizer="ws",
        shard_span=_INDEX_SHARD_SPAN,
        verify_sha256=False,  # driver table carries no sha column
    )
    idx = run_index_order(spark, order)
    _INDEX_HANDLES[memo_key] = idx
    return idx


def _rerank_rounded(out: DataFrame) -> DataFrame:
    """Engine ranks by exact float score; the oracle compare needs the
    rounded-deterministic order (round(score,6) desc, doc asc). Engine
    queries overfetch k+5 so boundary ties resolve inside this window.
    (Single-expr window: one py4j call, not ~30 — see index.query.topk.)"""
    return out.selectExpr(
        "query_id",
        "row_number() OVER (PARTITION BY query_id "
        "ORDER BY round(score, 6) DESC, doc_id ASC) AS rank",
        "doc_id",
        "round(score, 4) AS score",
    ).where(f"rank <= {DOC_K}")


def q_index_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL index engine under the driver oracle (north rule): SPIMI
    tokens → doclens/dictionary/stats → varbyte posting blocks →
    exact-decode BM25 top-k (spcht_spark.index.build/compress/query),
    over the PERSISTED index (committed parquet via the resumable
    work-order ladder — ``term IN (...)`` prunes the sorted-term block
    scan). Whitespace tokenizer so the token stream matches the SQL
    oracle; shard_span=1024 exercises the multi-shard doc-range layout
    and the exact per-shard merge. Replaces the reference's Solr query
    path (/root/reference/Spcht/Core/WorkOrder.py:693)."""
    from spcht_spark.index.query import exact_topk

    idx = _persisted_index(spark, sf_dir)
    qs = [(qid, ts, DOC_K + 5) for qid, ts in DOC_QUERIES]
    out = exact_topk(spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats, qs)
    return _rerank_rounded(out)


def q_index_wand_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-max WAND over the same persisted index, same oracle: the
    pruned path must return the identical top-k as exact decode AND as
    the DuckDB SQL (spcht_spark.index.wand)."""
    from spcht_spark.index.wand import wand_topk

    idx = _persisted_index(spark, sf_dir)
    qs = [(qid, ts, DOC_K + 5) for qid, ts in DOC_QUERIES]
    out = wand_topk(spark, idx.blocks, idx.dictionary, idx.stats, qs)
    return _rerank_rounded(out)


def q_index_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered retrieval — BM25 ∧ metadata predicate (Solr q+fq parity,
    the round-2 VERDICT's #1 missing feature). The reference ANDs field
    predicates into every Solr query (WorkOrder.py:702-707); here the
    fq is ``lang IN ('en','de') AND n_chars >= 200`` over the documents
    attributes, applied as a doc_filter to the persisted-index WAND
    path: admissible docs masked before the heap (rank-safe pruning),
    scoring untouched (idf/avgdl corpus-wide — exact fq semantics)."""
    from spcht_spark.index.wand import wand_topk

    idx = _persisted_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    doc_filter = docs.filter(
        F.col("lang").isin("en", "de") & (F.col("n_chars") >= 200)
    ).select("doc_id")
    qs = [(qid, ts, DOC_K + 5) for qid, ts in DOC_QUERIES]
    out = wand_topk(
        spark, idx.blocks, idx.dictionary, idx.stats, qs,
        doc_filter=doc_filter, shard_span=_INDEX_SHARD_SPAN,
    )
    return _rerank_rounded(out)


def q_index_incremental_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance under the driver oracle (round-2
    VERDICT missing #3; reference update flow WorkOrder.py:702-707,
    875-942): build a BASE index that differs from `documents` three
    ways — a 20% slice absent (to insert), a 5% slice truncated (to
    modify), 8 doomed docs present (to delete) — then merge the delta
    with update_index (touched-group rebuild + dictionary df/cf delta +
    avgdl-refresh of untouched block maxima). The updated index must
    answer BM25 top-k exactly as an index built from `documents`
    directly — i.e. the unchanged _bm25_sql oracle."""
    from spcht_spark.index.build import build_index
    from spcht_spark.index.query import exact_topk, values_df
    from spcht_spark.index.update import update_index

    corpus = _index_corpus(spark, sf_dir)
    doomed = values_df(
        spark,
        [(10_000_000 + i, f"doomed doc {i} spark join window dup hash") for i in range(8)],
        ["doc_id", "content"],
    )
    truncated = corpus.filter(F.col("doc_id") % 20 == 3).withColumn(
        "content", F.substring("content", 1, 40)
    )
    base = (
        corpus.filter((F.col("doc_id") % 5 != 0) & (F.col("doc_id") % 20 != 3))
        .unionByName(truncated)
        .unionByName(doomed)
    )
    changed = corpus.filter(
        (F.col("doc_id") % 5 == 0) | (F.col("doc_id") % 20 == 3)
    )
    base_idx = build_index(spark, base, tokenizer="ws", shard_span=_INDEX_SHARD_SPAN)
    idx = update_index(spark, base_idx, changed, doomed.select("doc_id"))
    qs = [(qid, ts, DOC_K + 5) for qid, ts in DOC_QUERIES]
    out = exact_topk(spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats, qs)
    return _rerank_rounded(out)


# Phrase query set: (query_id, phrase tokens in order, LIKE pattern).
DOC_PHRASES: list[tuple[str, list[str]]] = [
    ("p_batch2", ["batch", "batch"]),
    ("p_order_sort", ["order", "sort"]),
    ("p_window2", ["window", "window"]),
    ("p_stream_spark", ["stream", "spark"]),
    ("p_hash_scan_join", ["hash", "scan", "join"]),
    ("p_dup2", ["dup", "dup"]),
]


def _persisted_positional_index(spark: SparkSession, sf_dir: str):
    """Positional-layout twin of _persisted_index: built once per
    source fingerprint, committed as term-sorted parquet (the phrase
    path's ``term IN (...)`` then prunes row groups like the standard
    blocks), reopened on every later call."""
    from spcht_spark.index.build import IndexTables
    from spcht_spark.index.phrase import build_positional_index

    key = _source_fingerprint(sf_dir)
    root = os.path.join(_INDEX_CACHE_ROOT, f"pos-{key}")
    names = ("blocks", "doclens", "dictionary", "stats")
    if not all(
        os.path.exists(os.path.join(root, n, "_SUCCESS")) for n in names
    ):
        idx = build_positional_index(
            spark, _index_corpus(spark, sf_dir), mode="ws",
            shard_span=_INDEX_SHARD_SPAN,
        )
        idx.blocks.sortWithinPartitions("term").write.mode("overwrite").parquet(
            os.path.join(root, "blocks")
        )
        for n in ("doclens", "dictionary", "stats"):
            getattr(idx, n).write.mode("overwrite").parquet(os.path.join(root, n))
    t = {n: spark.read.parquet(os.path.join(root, n)) for n in names}
    return IndexTables(None, t["doclens"], t["dictionary"], t["stats"], t["blocks"])


def q_index_phrase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase retrieval over POSITIONAL postings (round-2 VERDICT
    missing #4; Solr phrase `q`, WorkOrder.py:693): the positional
    layout (per-posting delta+varbyte position lists riding the same
    (term, shard) blocks) persists once per source fingerprint like the
    standard driver index; queries intersect phrase terms per shard,
    verify in-order adjacency from decoded positions, and score matches
    with the conjunctive BM25 of the phrase's distinct terms. Oracle:
    DuckDB reproduces phrase containment with LIKE on the space-joined
    token text and the same conjunctive scoring."""
    from spcht_spark.index.phrase import phrase_topk

    idx = _persisted_positional_index(spark, sf_dir)
    qs = [(qid, ts, DOC_K + 5) for qid, ts in DOC_PHRASES]
    out = phrase_topk(spark, idx.blocks, idx.dictionary, idx.stats, qs)
    return _rerank_rounded(out)


def _phrase_bm25_sql() -> str:
    """Conjunctive BM25 over each phrase's distinct terms, restricted to
    docs whose space-joined text contains the phrase (fq-free twin of
    the engine's adjacency gate — `documents.text` IS the single-space
    token sequence)."""
    vals = ", ".join(
        f"('{qid}', '{t}')" for qid, ts in DOC_PHRASES for t in sorted(set(ts))
    )
    matches = "\n  UNION ALL ".join(
        f"SELECT '{qid}' AS query_id, doc_id FROM documents "
        f"WHERE ' ' || text || ' ' LIKE '% {' '.join(ts)} %'"
        for qid, ts in DOC_PHRASES
    )
    return f"""
WITH {_TOK_SQL},
  dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
  stats AS (SELECT count(*)::BIGINT AS n_docs,
                   (sum(dl)::DOUBLE / count(*)) AS avgdl FROM dl),
  dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
  q(query_id, term) AS (VALUES {vals}),
  m AS ({matches}),
  scored AS (
    SELECT q.query_id, tf.doc_id,
           sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                * (tf.tf * 2.2)
                / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl))) ) AS raw
    FROM q JOIN dft USING (term) JOIN tf USING (term)
         JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
         JOIN m ON m.query_id = q.query_id AND m.doc_id = tf.doc_id
    GROUP BY q.query_id, tf.doc_id),
  ranked AS (
    SELECT query_id, doc_id, round(raw, 4) AS score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(raw, 6) DESC, doc_id)::INTEGER AS rank
    FROM scored)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DOC_K}
"""


# Sloppy phrases ("a b"~n, round-4 VERDICT next #3): 2-term phrases
# with per-query slop; sp_swap needs slop 2 (Lucene's documented
# transposition example), sp_exact0 pins slop=0 ≡ the exact path
# inside the same driver entry. Slop>0 requires distinct terms.
DOC_SLOP_PHRASES: list[tuple[str, list[str], int]] = [
    ("sp_order_sort", ["order", "sort"], 1),
    ("sp_swap", ["sort", "order"], 2),
    ("sp_hash_join", ["hash", "join"], 3),
    ("sp_exact0", ["stream", "spark"], 0),
]


def q_index_phrase_slop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sloppy phrase retrieval (Solr/Lucene ``"a b"~n``): positions
    adjusted by phrase offset must admit a window of spread ≤ slop —
    the k-sorted-lists min-window scan over the SAME positional blocks
    the exact phrase path decodes (spcht_spark.index.phrase). Matching
    docs score with the conjunctive BM25 of the phrase's distinct
    terms. The DuckDB oracle reproduces the window gate with a
    position self-join over the tokenized text (2-term phrases:
    |pos(b)−1−pos(a)| ≤ slop)."""
    from spcht_spark.index.phrase import phrase_topk

    idx = _persisted_positional_index(spark, sf_dir)
    qs = [(qid, ts, DOC_K + 5) for qid, ts, _ in DOC_SLOP_PHRASES]
    out = phrase_topk(
        spark, idx.blocks, idx.dictionary, idx.stats, qs,
        slop={qid: s for qid, _, s in DOC_SLOP_PHRASES},
    )
    return _rerank_rounded(out)


def _phrase_slop_sql() -> str:
    """Window-gate twin: one positions CTE (zipped unnest), per-query
    2-term position join with the slop bound, conjunctive BM25 over
    the phrase terms restricted to matching docs."""
    vals = ", ".join(
        f"('{qid}', '{t}')"
        for qid, ts, _ in DOC_SLOP_PHRASES
        for t in sorted(set(ts))
    )
    sq = ", ".join(
        f"('{qid}', '{ts[0]}', '{ts[1]}', {s})"
        for qid, ts, s in DOC_SLOP_PHRASES
    )
    return f"""
WITH {_TOK_SQL},
  dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
  stats AS (SELECT count(*)::BIGINT AS n_docs,
                   (sum(dl)::DOUBLE / count(*)) AS avgdl FROM dl),
  dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
  q(query_id, term) AS (VALUES {vals}),
  sq(query_id, t1, t2, slop) AS (VALUES {sq}),
  tokpos AS (
    SELECT doc_id, unnest(toks) AS term,
           unnest(generate_series(1, len(toks))) - 1 AS pos
    FROM (SELECT doc_id, string_split(text, ' ') AS toks
          FROM documents) d),
  m AS (SELECT DISTINCT sq.query_id, p1.doc_id
        FROM sq
        JOIN tokpos p1 ON p1.term = sq.t1
        JOIN tokpos p2 ON p2.doc_id = p1.doc_id AND p2.term = sq.t2
                      AND abs((p2.pos - 1) - p1.pos) <= sq.slop),
  scored AS (
    SELECT q.query_id, tf.doc_id,
           sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                * (tf.tf * 2.2)
                / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl))) ) AS raw
    FROM q JOIN dft USING (term) JOIN tf USING (term)
         JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
         JOIN m ON m.query_id = q.query_id AND m.doc_id = tf.doc_id
    GROUP BY q.query_id, tf.doc_id),
  ranked AS (
    SELECT query_id, doc_id, round(raw, 4) AS score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(raw, 6) DESC, doc_id)::INTEGER AS rank
    FROM scored)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DOC_K}
"""


def _filtered_bm25_sql() -> str:
    """Same BM25 oracle, candidates restricted by the fq AFTER scoring
    stats are fixed (idf/avgdl over the full corpus — fq semantics)."""
    vals = ", ".join(f"('{qid}', '{t}')" for qid, ts in DOC_QUERIES for t in ts)
    return f"""
WITH {_TOK_SQL},
  dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
  stats AS (SELECT count(*)::BIGINT AS n_docs,
                   (sum(dl)::DOUBLE / count(*)) AS avgdl FROM dl),
  dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
  q(query_id, term) AS (VALUES {vals}),
  fq AS (SELECT doc_id FROM documents
         WHERE lang IN ('en', 'de') AND n_chars >= 200),
  scored AS (
    SELECT q.query_id, tf.doc_id,
           sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                * (tf.tf * 2.2)
                / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl))) ) AS raw
    FROM q JOIN dft USING (term) JOIN tf USING (term)
         JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
    WHERE tf.doc_id IN (SELECT doc_id FROM fq)
    GROUP BY q.query_id, tf.doc_id),
  ranked AS (
    SELECT query_id, doc_id, round(raw, 4) AS score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(raw, 6) DESC, doc_id)::INTEGER AS rank
    FROM scored)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DOC_K}
"""


def q_index_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Facet counts alongside retrieval (Solr ``facet.field`` +
    ``facet.range`` parity — the request surface the reference's Solr
    exposes next to q/fq/fl, WorkOrder.py:693-707): for each query,
    counts over ALL matching docs (contains ≥1 query term, Solr's
    default OR), one field facet (lang) and one range facet (n_chars in
    buckets of 100). The match set comes from the persisted posting
    blocks (term-pruned scan → decode → distinct), never a corpus scan;
    counting is one equi-join on doc_id plus partial-agg groupBys."""
    from spcht_spark.index.facets import facet_counts

    idx = _persisted_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    facets = {
        "lang": (F.col("lang"), ["lang"]),
        "n_chars_100": (
            (F.floor(F.col("n_chars") / F.lit(100)) * 100).cast("long"),
            ["n_chars"],
        ),
    }
    return facet_counts(
        spark, idx.blocks, DOC_QUERIES,
        docs.select("doc_id", "lang", "n_chars"), facets,
    )


def _facets_sql() -> str:
    vals = ", ".join(f"('{qid}', '{t}')" for qid, ts in DOC_QUERIES for t in ts)
    return f"""
WITH {_TOK_SQL},
  q(query_id, term) AS (VALUES {vals}),
  m AS (SELECT DISTINCT q.query_id, tf.doc_id FROM q JOIN tf USING (term)),
  j AS (SELECT m.query_id, d.lang, d.n_chars
        FROM m JOIN documents d USING (doc_id)),
  f1 AS (SELECT query_id, 'lang' AS field, lang AS value,
                count(*)::BIGINT AS n
         FROM j GROUP BY query_id, lang),
  f2 AS (SELECT query_id, 'n_chars_100' AS field,
                ((floor(n_chars / 100.0) * 100)::BIGINT)::VARCHAR AS value,
                count(*)::BIGINT AS n
         FROM j GROUP BY query_id, (floor(n_chars / 100.0) * 100)::BIGINT)
SELECT * FROM f1 UNION ALL SELECT * FROM f2
"""


_FACET_LIMIT = 3
_FACET_MINCOUNT = 2


def q_index_facet_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Facet options (Solr ``facet.limit``/``facet.mincount``/
    ``facet.sort=count``): per (query, facet) only the top-3 buckets
    with n ≥ 2 survive, ordered (n desc, value asc). The limit runs
    through the same two-stage salted window as every ranked surface —
    at web scale a facet over a high-cardinality field has billions of
    buckets and no reducer may hold one facet's full list."""
    from spcht_spark.index.facets import facet_counts

    idx = _persisted_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    facets = {
        "lang": (F.col("lang"), ["lang"]),
        "source": (F.col("source"), ["source"]),
    }
    return facet_counts(
        spark, idx.blocks, DOC_QUERIES,
        docs.select("doc_id", "lang", "source"), facets,
        limit=_FACET_LIMIT, mincount=_FACET_MINCOUNT, sort="count",
    )


def _facet_topn_sql() -> str:
    vals = ", ".join(f"('{qid}', '{t}')" for qid, ts in DOC_QUERIES for t in ts)
    return f"""
WITH {_TOK_SQL},
  q(query_id, term) AS (VALUES {vals}),
  m AS (SELECT DISTINCT q.query_id, tf.doc_id FROM q JOIN tf USING (term)),
  j AS (SELECT m.query_id, d.lang, d.source
        FROM m JOIN documents d USING (doc_id)),
  f1 AS (SELECT query_id, 'lang' AS field, lang AS value,
                count(*)::BIGINT AS n
         FROM j GROUP BY query_id, lang),
  f2 AS (SELECT query_id, 'source' AS field, source AS value,
                count(*)::BIGINT AS n
         FROM j GROUP BY query_id, source),
  u AS (SELECT * FROM f1 UNION ALL SELECT * FROM f2),
  r AS (SELECT *, row_number() OVER (PARTITION BY query_id, field
                                     ORDER BY n DESC, value) AS rn
        FROM u WHERE n >= {_FACET_MINCOUNT})
SELECT query_id, field, value, n FROM r WHERE rn <= {_FACET_LIMIT}
"""


def q_index_boosted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Function-query boosting (Solr edismax ``boost=``/``bf=`` /
    Lucene FunctionScoreQuery): BM25 re-weighted per doc by functions
    of attribute fields — multiplicative boost 1 + n_chars/1000 and
    additive bf ln(n_chars). Applied to every admissible candidate
    BEFORE top-k (candidates⋈attrs on doc_id — narrow rows, never
    postings), then the standard salted top-k."""
    from spcht_spark.index.query import boosted_topk

    idx = _persisted_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    qs = [(qid, ts, DOC_K + 5) for qid, ts in DOC_QUERIES]
    out = boosted_topk(
        spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats, qs,
        docs.select("doc_id", "n_chars"),
        boost=(F.lit(1.0) + F.col("n_chars") / F.lit(1000.0), ["n_chars"]),
        bf=(F.log(F.col("n_chars").cast("double")), ["n_chars"]),
    )
    return _rerank_rounded(out)


def _boosted_bm25_sql() -> str:
    vals = ", ".join(f"('{qid}', '{t}')" for qid, ts in DOC_QUERIES for t in ts)
    return f"""
WITH {_TOK_SQL},
  dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
  stats AS (SELECT count(*)::BIGINT AS n_docs,
                   (sum(dl)::DOUBLE / count(*)) AS avgdl FROM dl),
  dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
  q(query_id, term) AS (VALUES {vals}),
  scored AS (
    SELECT q.query_id, tf.doc_id,
           sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                * (tf.tf * 2.2)
                / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl))) ) AS raw
    FROM q JOIN dft USING (term) JOIN tf USING (term)
         JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
    GROUP BY q.query_id, tf.doc_id),
  boosted AS (
    SELECT s.query_id, s.doc_id,
           s.raw * (1.0 + d.n_chars / 1000.0) + ln(d.n_chars::DOUBLE) AS raw
    FROM scored s JOIN documents d USING (doc_id)),
  ranked AS (
    SELECT query_id, doc_id, round(raw, 4) AS score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(raw, 6) DESC, doc_id)::INTEGER AS rank
    FROM boosted)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DOC_K}
"""


# Boolean query strings (Solr q syntax: default-OR, AND/OR/NOT, parens).
DOC_BOOL_QUERIES: list[tuple[str, str]] = [
    ("b_and", "spark AND join"),
    ("b_or", "window stream"),
    ("b_and_not", "join AND NOT hash"),
    ("b_nested", "(join AND hash) OR (batch AND NOT row)"),
    ("b_neg_missing", "customer AND NOT zz_no_such_term"),
]


def q_index_boolean_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean `q` strings over the persisted index (Solr query-language
    parity: the reference submits free-form AND/OR/NOT conjunctions,
    WorkOrder.py:702-707): parse → one term-pruned block scan for all
    terms (negated ones included, to prove inadmissibility) → per-doc
    term-set + BM25 over positive terms → AST as a Catalyst predicate →
    salted top-k. Lucene scoring semantics: MUST_NOT clauses never
    score."""
    from spcht_spark.index.boolean import boolean_topk

    idx = _persisted_index(spark, sf_dir)
    qs = [(qid, s, DOC_K + 5) for qid, s in DOC_BOOL_QUERIES]
    out = boolean_topk(spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats, qs)
    return _rerank_rounded(out)


def q_index_qop_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same boolean engine under Solr's ``q.op=AND``: bare
    adjacency binds as MUST (``spark join`` ≡ ``spark AND join``),
    explicit OR still separates, '-term' adjacency is Lucene's
    ``+a -b``. One parse-time rewrite — execution reuses the routed
    boolean paths unchanged."""
    from spcht_spark.index.boolean import boolean_topk

    idx = _persisted_index(spark, sf_dir)
    qs = [(qid, s, DOC_K + 5) for qid, s in DOC_QOP_QUERIES]
    out = boolean_topk(
        spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats, qs,
        default_op="AND",
    )
    return _rerank_rounded(out)


DOC_QOP_QUERIES: list[tuple[str, str]] = [
    ("qop_adj", "spark join"),
    ("qop_mixed", "window stream OR batch"),
    ("qop_neg", "join -hash"),
]


def _boolean_bm25_sql(
    queries: list[tuple[str, str]] | None = None, default_op: str = "OR"
) -> str:
    from spcht_spark.index.boolean import (
        ast_terms, ast_to_duckdb, parse_query, positive_terms,
    )

    parsed = [(qid, parse_query(s, default_op=default_op))
              for qid, s in (queries or DOC_BOOL_QUERIES)]
    vals = ", ".join(
        f"('{qid}', '{t}', {str(t in positive_terms(ast)).upper()})"
        for qid, ast in parsed
        for t in sorted(ast_terms(ast))
    )
    pred = " OR ".join(
        f"(query_id = '{qid}' AND {ast_to_duckdb(ast)})" for qid, ast in parsed
    )
    return f"""
WITH {_TOK_SQL},
  dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
  stats AS (SELECT count(*)::BIGINT AS n_docs,
                   (sum(dl)::DOUBLE / count(*)) AS avgdl FROM dl),
  dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
  q(query_id, term, is_pos) AS (VALUES {vals}),
  g AS (
    SELECT q.query_id, tf.doc_id,
           list(DISTINCT tf.term) AS terms,
           sum(CASE WHEN q.is_pos THEN
                 ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                 * (tf.tf * 2.2)
                 / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl)))
               ELSE 0.0 END) AS raw
    FROM q JOIN tf USING (term) JOIN dft USING (term)
         JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
    GROUP BY q.query_id, tf.doc_id),
  f AS (SELECT query_id, doc_id, raw FROM g WHERE {pred}),
  ranked AS (
    SELECT query_id, doc_id, round(raw, 4) AS score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(raw, 6) DESC, doc_id)::INTEGER AS rank
    FROM f)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DOC_K}
"""


_PAGE_SIZE = 15
_N_PAGES = 3


def q_index_cursor_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted retrieval + cursorMark deep paging (Solr parity: the
    reference walks its corpus with sort="id asc" + cursorMark,
    following nextCursorMark — WorkOrder.py:693,745-746). Three pages
    of 15 per query, sorted by (n_chars asc, doc_id asc), fetched
    through keyset cursors: page N filters strictly beyond page N-1's
    last (sort, doc) instead of offset-skipping. The oracle checks the
    concatenated pages against ONE offset-ranked window — proving
    keyset pagination reconstructs the global order exactly."""
    from spcht_spark.index.cursor import paged_scan

    idx = _persisted_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    return paged_scan(
        spark, idx.blocks, DOC_QUERIES, docs.select("doc_id", "n_chars"),
        "n_chars", _PAGE_SIZE, _N_PAGES,
    )


def _cursor_pages_sql() -> str:
    vals = ", ".join(f"('{qid}', '{t}')" for qid, ts in DOC_QUERIES for t in ts)
    return f"""
WITH {_TOK_SQL},
  q(query_id, term) AS (VALUES {vals}),
  m AS (SELECT DISTINCT q.query_id, tf.doc_id FROM q JOIN tf USING (term)),
  j AS (SELECT m.query_id, m.doc_id, d.n_chars::BIGINT AS sort_value
        FROM m JOIN documents d USING (doc_id)),
  r AS (SELECT query_id, doc_id, sort_value,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sort_value, doc_id) AS rn
        FROM j)
SELECT query_id, ((rn - 1) // {_PAGE_SIZE})::INTEGER AS page,
       ((rn - 1) % {_PAGE_SIZE} + 1)::INTEGER AS pos, doc_id, sort_value
FROM r WHERE rn <= {_PAGE_SIZE * _N_PAGES}
"""


_MLT_SEEDS = [11, 101, 303]
_MLT_TERMS = 8


def q_index_mlt_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mlt.interestingTerms=details: the chosen terms with their tf·idf
    boosts per seed — the MLT rewrite made inspectable (Solr returns
    exactly this list when details is requested)."""
    from spcht_spark.index.mlt import interesting_terms_detail

    idx = _persisted_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    rows = interesting_terms_detail(
        docs, idx.dictionary, idx.stats.collect()[0], _MLT_SEEDS,
        max_terms=_MLT_TERMS, mode="ws", content_col="text",
    )
    return spark.createDataFrame(
        rows, "query_id string, rank int, term string, weight double"
    )


def _mlt_terms_sql() -> str:
    seeds = ", ".join(f"({s})" for s in _MLT_SEEDS)
    return f"""
WITH {_TOK_SQL},
  n AS (SELECT count(DISTINCT doc_id)::BIGINT AS n_docs FROM tf),
  dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
  s(seed) AS (VALUES {seeds}),
  w AS (
    SELECT 'mlt_' || s.seed AS query_id, tf.term,
           round(tf.tf * ln(1.0 + (n.n_docs - dft.df + 0.5) / (dft.df + 0.5)), 6)
             AS weight
    FROM s JOIN tf ON tf.doc_id = s.seed
         JOIN dft USING (term) CROSS JOIN n),
  r AS (SELECT query_id, term, weight,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY weight DESC, term)::INTEGER AS rank
        FROM w)
SELECT query_id, rank, term, weight FROM r WHERE rank <= {_MLT_TERMS}
"""


def q_index_mlt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """More-like-this (Solr MLT handler parity): each seed doc is
    rewritten into its top-8 tf·idf terms (tie-broken (round(w,6)
    desc, term asc) so the SQL oracle agrees at boundaries), which run
    as a disjunctive BM25 query over the persisted index with the seed
    excluded from its own result. Query rewrite is driver-side (like
    collecting query-term dfs); execution is the standard distributed
    exact path."""
    from spcht_spark.index.mlt import mlt_topk

    idx = _persisted_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    out = mlt_topk(
        spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats,
        docs, _MLT_SEEDS, k=DOC_K + 5, max_terms=_MLT_TERMS,
        mode="ws", content_col="text",
    )
    return _rerank_rounded(out)


def _mlt_sql() -> str:
    seeds = ", ".join(f"({s})" for s in _MLT_SEEDS)
    return f"""
WITH {_TOK_SQL},
  dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
  stats AS (SELECT count(*)::BIGINT AS n_docs,
                   (sum(dl)::DOUBLE / count(*)) AS avgdl FROM dl),
  dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
  seeds(seed) AS (VALUES {seeds}),
  sw AS (SELECT s.seed, tf.term,
                round(tf.tf * ln(1.0 + (st.n_docs - dft.df + 0.5)
                                       / (dft.df + 0.5)), 6) AS w
         FROM seeds s JOIN tf ON tf.doc_id = s.seed
              JOIN dft USING (term) CROSS JOIN stats st),
  topt AS (SELECT seed, term FROM (
             SELECT seed, term,
                    row_number() OVER (PARTITION BY seed
                                       ORDER BY w DESC, term) AS rn
             FROM sw) WHERE rn <= {_MLT_TERMS}),
  q AS (SELECT 'mlt_' || seed::VARCHAR AS query_id, seed, term FROM topt),
  scored AS (
    SELECT q.query_id, q.seed, tf.doc_id,
           sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                * (tf.tf * 2.2)
                / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl))) ) AS raw
    FROM q JOIN dft USING (term) JOIN tf USING (term)
         JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
    GROUP BY q.query_id, q.seed, tf.doc_id),
  ranked AS (
    SELECT query_id, doc_id, round(raw, 4) AS score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(raw, 6) DESC, doc_id)::INTEGER AS rank
    FROM scored WHERE doc_id <> seed)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DOC_K}
"""


_HL_WINDOW = 4


def q_index_highlight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snippet highlighting (Solr ``hl`` parity): the BM25 top-k page
    from the persisted index, each hit carrying the ±4-token context
    around the first query-term occurrence with matches wrapped in
    <em>. Stored-field fetch touches only the k·|queries| hit rows
    (broadcast against the doc store); snippet assembly is pure
    Catalyst higher-order functions."""
    from spcht_spark.index.highlight import highlight
    from spcht_spark.index.query import exact_topk

    idx = _persisted_index(spark, sf_dir)
    qs = [(qid, ts, DOC_K + 5) for qid, ts in DOC_QUERIES]
    hits = _rerank_rounded(
        exact_topk(spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats, qs)
    )
    docs = _t(spark, sf_dir, "documents")
    return highlight(
        hits, docs, DOC_QUERIES, window=_HL_WINDOW, content_col="text"
    )


def _highlight_sql() -> str:
    vals = ", ".join(f"('{qid}', '{t}')" for qid, ts in DOC_QUERIES for t in ts)
    w = _HL_WINDOW
    branches = []
    for i, (qid, ts) in enumerate(DOC_QUERIES):
        terms = sorted(set(ts))
        leasts = ", ".join(
            f"coalesce(nullif(list_position(tk, '{t}'), 0), 1000000000)"
            for t in terms
        )
        termlits = ", ".join(f"'{t}'" for t in terms)
        branches.append(f"""
  h{i} AS (
    SELECT r.query_id, r.rank, r.doc_id, r.score, tks.tk,
           least({leasts}) AS p
    FROM ranked r JOIN tks ON r.doc_id = tks.doc_id
    WHERE r.query_id = '{qid}' AND r.rank <= {DOC_K}),
  s{i} AS (
    SELECT query_id, rank, doc_id, score,
           CASE WHEN p >= 1000000000 THEN NULL ELSE
             array_to_string(list_transform(
               tk[greatest(1, p - {w}):greatest(1, p - {w}) + {2 * w}],
               t -> CASE WHEN t IN ({termlits})
                         THEN '<em>' || t || '</em>' ELSE t END), ' ')
           END AS snippet
    FROM h{i})""")
    union = " UNION ALL ".join(f"SELECT * FROM s{i}" for i in range(len(DOC_QUERIES)))
    return f"""
WITH {_TOK_SQL},
  dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
  stats AS (SELECT count(*)::BIGINT AS n_docs,
                   (sum(dl)::DOUBLE / count(*)) AS avgdl FROM dl),
  dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
  q(query_id, term) AS (VALUES {vals}),
  scored AS (
    SELECT q.query_id, tf.doc_id,
           sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                * (tf.tf * 2.2)
                / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl))) ) AS raw
    FROM q JOIN dft USING (term) JOIN tf USING (term)
         JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
    GROUP BY q.query_id, tf.doc_id),
  ranked AS (
    SELECT query_id, doc_id, round(raw, 4) AS score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(raw, 6) DESC, doc_id)::INTEGER AS rank
    FROM scored),
  tks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
  {",".join(branches)}
{union}
"""


DOC_FIELDED_QUERIES: list[tuple[str, list[str]]] = [
    ("f_mix", ["spark", "src3"]),
    ("f_mix2", ["join", "hash", "src11"]),
    ("f_text", ["window", "stream"]),
]
_FIELD_BOOSTS = {"text": 1.0, "source": 2.5}


def _persisted_field_index(spark: SparkSession, sf_dir: str, field: str):
    """Per-field index persisted once per source fingerprint (Lucene:
    term = (field, term) → each searchable field is its own committed
    index), reopened on later calls — same pattern as the text and
    positional layouts."""
    from spcht_spark.index.build import IndexTables, build_index

    key = _source_fingerprint(sf_dir)
    root = os.path.join(_INDEX_CACHE_ROOT, f"f-{field}-{key}")
    names = ("blocks", "doclens", "dictionary", "stats")
    if not all(os.path.exists(os.path.join(root, n, "_SUCCESS")) for n in names):
        docs = _t(spark, sf_dir, "documents")
        idx = build_index(
            spark,
            docs.select("doc_id", F.col(field).alias("content")),
            tokenizer="ws",
            shard_span=_INDEX_SHARD_SPAN,
        )
        idx.blocks.sortWithinPartitions("term").write.mode("overwrite").parquet(
            os.path.join(root, "blocks")
        )
        for n in ("doclens", "dictionary", "stats"):
            getattr(idx, n).write.mode("overwrite").parquet(os.path.join(root, n))
    t = {n: spark.read.parquet(os.path.join(root, n)) for n in names}
    return IndexTables(None, t["doclens"], t["dictionary"], t["stats"], t["blocks"])


def q_index_fielded_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-field boosted search (Solr edismax ``qf=source^2.5 text``):
    one index per field with per-field statistics (Lucene term =
    (field, term)), per-field exact BM25, combined per doc as
    Σ_f boost_f · BM25_f with a field-ordered deterministic fold. The
    text field reuses the shared persisted index; the source field
    (single-token, a title-like categorical) builds from the same doc
    store."""
    from spcht_spark.index.build import build_index
    from spcht_spark.index.fielded import fielded_topk

    idx_text = _persisted_index(spark, sf_dir)
    idx_src = _persisted_field_index(spark, sf_dir, "source")
    qs = [(qid, ts, DOC_K + 5) for qid, ts in DOC_FIELDED_QUERIES]
    out = fielded_topk(
        spark, {"text": idx_text, "source": idx_src}, _FIELD_BOOSTS, qs
    )
    return _rerank_rounded(out)


def _fielded_bm25_sql() -> str:
    vals = ", ".join(
        f"('{qid}', '{t}')" for qid, ts in DOC_FIELDED_QUERIES for t in ts
    )
    return f"""
WITH {_TOK_SQL},
  dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
  stats AS (SELECT count(*)::BIGINT AS n_docs,
                   (sum(dl)::DOUBLE / count(*)) AS avgdl FROM dl),
  dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
  tfs AS (SELECT doc_id, source AS term, 1::BIGINT AS tf FROM documents),
  statss AS (SELECT count(*)::BIGINT AS n_docs, 1.0::DOUBLE AS avgdl
             FROM documents),
  dfts AS (SELECT term, count(*)::BIGINT AS df FROM tfs GROUP BY term),
  q(query_id, term) AS (VALUES {vals}),
  sc_text AS (
    SELECT q.query_id, tf.doc_id,
           sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                * (tf.tf * 2.2)
                / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl))) )
           * {_FIELD_BOOSTS["text"]} AS w
    FROM q JOIN dft USING (term) JOIN tf USING (term)
         JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
    GROUP BY q.query_id, tf.doc_id),
  sc_src AS (
    SELECT q.query_id, tfs.doc_id,
           sum( ln(1.0 + (s.n_docs - dfts.df + 0.5) / (dfts.df + 0.5))
                * (tfs.tf * 2.2)
                / (tfs.tf + 1.2 * (0.25 + 0.75 * (1.0 / s.avgdl))) )
           * {_FIELD_BOOSTS["source"]} AS w
    FROM q JOIN dfts USING (term) JOIN tfs USING (term)
         CROSS JOIN statss s
    GROUP BY q.query_id, tfs.doc_id),
  u AS (SELECT * FROM sc_text UNION ALL SELECT * FROM sc_src),
  g AS (SELECT query_id, doc_id, sum(w) AS raw FROM u GROUP BY query_id, doc_id),
  ranked AS (
    SELECT query_id, doc_id, round(raw, 4) AS score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(raw, 6) DESC, doc_id)::INTEGER AS rank
    FROM g)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DOC_K}
"""


_DISMAX_TIE = 0.3


def q_index_dismax_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dismax multi-field scoring (Lucene DisjunctionMaxQuery /
    edismax ``tie``): per-field BM25 with each field's own statistics,
    combined per doc as max_f + tie·Σ_other — the best-matching field
    dominates, other fields break ties — instead of the plain weighted
    sum. tie=0.3, Solr's customary setting. Same per-field persisted
    indexes as index_fielded_topk."""
    from spcht_spark.index.fielded import fielded_topk

    idx_text = _persisted_index(spark, sf_dir)
    idx_src = _persisted_field_index(spark, sf_dir, "source")
    qs = [(qid, ts, DOC_K + 5) for qid, ts in DOC_FIELDED_QUERIES]
    out = fielded_topk(
        spark, {"text": idx_text, "source": idx_src}, _FIELD_BOOSTS, qs,
        tie=_DISMAX_TIE,
    )
    return _rerank_rounded(out)


def _dismax_bm25_sql() -> str:
    vals = ", ".join(
        f"('{qid}', '{t}')" for qid, ts in DOC_FIELDED_QUERIES for t in ts
    )
    return f"""
WITH {_TOK_SQL},
  dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
  stats AS (SELECT count(*)::BIGINT AS n_docs,
                   (sum(dl)::DOUBLE / count(*)) AS avgdl FROM dl),
  dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
  tfs AS (SELECT doc_id, source AS term, 1::BIGINT AS tf FROM documents),
  statss AS (SELECT count(*)::BIGINT AS n_docs, 1.0::DOUBLE AS avgdl
             FROM documents),
  dfts AS (SELECT term, count(*)::BIGINT AS df FROM tfs GROUP BY term),
  q(query_id, term) AS (VALUES {vals}),
  sc_text AS (
    SELECT q.query_id, tf.doc_id,
           sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                * (tf.tf * 2.2)
                / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl))) )
           * {_FIELD_BOOSTS["text"]} AS w
    FROM q JOIN dft USING (term) JOIN tf USING (term)
         JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
    GROUP BY q.query_id, tf.doc_id),
  sc_src AS (
    SELECT q.query_id, tfs.doc_id,
           sum( ln(1.0 + (s.n_docs - dfts.df + 0.5) / (dfts.df + 0.5))
                * (tfs.tf * 2.2)
                / (tfs.tf + 1.2 * (0.25 + 0.75 * (1.0 / s.avgdl))) )
           * {_FIELD_BOOSTS["source"]} AS w
    FROM q JOIN dfts USING (term) JOIN tfs USING (term)
         CROSS JOIN statss s
    GROUP BY q.query_id, tfs.doc_id),
  u AS (SELECT * FROM sc_text UNION ALL SELECT * FROM sc_src),
  g AS (SELECT query_id, doc_id,
               max(w) + {_DISMAX_TIE} * (sum(w) - max(w)) AS raw
        FROM u GROUP BY query_id, doc_id),
  ranked AS (
    SELECT query_id, doc_id, round(raw, 4) AS score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(raw, 6) DESC, doc_id)::INTEGER AS rank
    FROM g)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DOC_K}
"""


# (query_id, terms, mm): disjunctive queries gated by Solr's edismax
# minimum-should-match — a doc needs ≥ mm distinct query terms.
DOC_MM_QUERIES: list[tuple[str, list[str], int]] = [
    ("m_hot4", ["join", "hash", "row", "batch"], 3),
    ("m_mix3", ["window", "stream", "hash"], 2),
    ("m_all", ["spark", "join"], 2),
]


def q_index_minmatch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-should-match (Solr ``mm``): disjunctive BM25 where only
    docs containing ≥ mm distinct query terms are admissible — the
    middle ground between OR and AND that web search defaults to.
    Admissibility counts the doc's distinct query terms inside the
    scoring statement (no extra pass); scoring stays pure BM25 over the
    matched terms."""
    from spcht_spark.index.query import exact_topk

    idx = _persisted_index(spark, sf_dir)
    qs = [(qid, ts, DOC_K + 5) for qid, ts, _ in DOC_MM_QUERIES]
    out = exact_topk(
        spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats, qs,
        min_match={qid: mm for qid, _, mm in DOC_MM_QUERIES},
    )
    return _rerank_rounded(out)


def _minmatch_bm25_sql() -> str:
    vals = ", ".join(
        f"('{qid}', '{t}')" for qid, ts, _ in DOC_MM_QUERIES for t in ts
    )
    mmvals = ", ".join(f"('{qid}', {mm})" for qid, _, mm in DOC_MM_QUERIES)
    return f"""
WITH {_TOK_SQL},
  dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
  stats AS (SELECT count(*)::BIGINT AS n_docs,
                   (sum(dl)::DOUBLE / count(*)) AS avgdl FROM dl),
  dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
  q(query_id, term) AS (VALUES {vals}),
  mm(query_id, mm) AS (VALUES {mmvals}),
  scored AS (
    SELECT q.query_id, tf.doc_id,
           sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                * (tf.tf * 2.2)
                / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl))) ) AS raw,
           count(*) AS n_matched
    FROM q JOIN dft USING (term) JOIN tf USING (term)
         JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
    GROUP BY q.query_id, tf.doc_id),
  adm AS (SELECT s.query_id, s.doc_id, s.raw
          FROM scored s JOIN mm USING (query_id)
          WHERE s.n_matched >= mm.mm),
  ranked AS (
    SELECT query_id, doc_id, round(raw, 4) AS score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(raw, 6) DESC, doc_id)::INTEGER AS rank
    FROM adm)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DOC_K}
"""


DOC_PREFIX_QUERIES: list[tuple[str, str]] = [
    ("p_s", "s"),
    ("p_ha", "ha"),
    ("p_wi", "wi"),
    ("p_none", "zzz"),
]
_PREFIX_MAX_EXPANSIONS = 5


def q_index_prefix_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix/wildcard queries (Lucene SCORING_BOOLEAN rewrite of
    ``term*``): the prefix expands against the dictionary — the small
    sorted index table, where a startswith predicate prunes like an
    FST seek — capped at the top-5 terms by (df desc, term asc)
    (Lucene maxExpansions), then scores as a disjunctive BM25 query
    through the unchanged exact path over the persisted blocks."""
    from spcht_spark.index.prefix import prefix_topk

    idx = _persisted_index(spark, sf_dir)
    qs = [(qid, p, DOC_K + 5) for qid, p in DOC_PREFIX_QUERIES]
    out = prefix_topk(
        spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats, qs,
        max_expansions=_PREFIX_MAX_EXPANSIONS,
    )
    return _rerank_rounded(out)


def _prefix_bm25_sql() -> str:
    vals = ", ".join(f"('{qid}', '{p}')" for qid, p in DOC_PREFIX_QUERIES)
    return f"""
WITH {_TOK_SQL},
  dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
  stats AS (SELECT count(*)::BIGINT AS n_docs,
                   (sum(dl)::DOUBLE / count(*)) AS avgdl FROM dl),
  dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
  p(query_id, prefix) AS (VALUES {vals}),
  e AS (SELECT query_id, term FROM (
          SELECT p.query_id, dft.term,
                 row_number() OVER (PARTITION BY p.query_id
                                    ORDER BY dft.df DESC, dft.term) AS rn
          FROM p JOIN dft ON dft.term LIKE p.prefix || '%')
        WHERE rn <= {_PREFIX_MAX_EXPANSIONS}),
  scored AS (
    SELECT e.query_id, tf.doc_id,
           sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                * (tf.tf * 2.2)
                / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl))) ) AS raw
    FROM e JOIN dft USING (term) JOIN tf USING (term)
         JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
    GROUP BY e.query_id, tf.doc_id),
  ranked AS (
    SELECT query_id, doc_id, round(raw, 4) AS score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(raw, 6) DESC, doc_id)::INTEGER AS rank
    FROM scored)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DOC_K}
"""


# Leading/infix wildcards (round-4 VERDICT next #5): shapes a pure
# startswith prune cannot answer — *ow (suffix), s*k (infix gap),
# *a* (broad: exercises the maxExpansions cap), f?st (single-char ?).
DOC_WILDCARD_QUERIES: list[tuple[str, str]] = [
    ("w_suffix_ow", "*ow"),
    ("w_infix_sk", "s*k"),
    ("w_broad_a", "*a*"),
    ("w_qmark", "f?st"),
]
_WILDCARD_MAX_EXPANSIONS = 5


def q_index_wildcard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading/infix wildcard queries (Lucene answers ``*handler`` /
    ``te*t`` by automaton scan of the term dictionary): ONE regexp
    scan of the small dictionary table against the broadcast pattern
    batch, capped at the top-5 expansions by (df desc, term asc)
    (maxExpansions discipline), then the disjunctive BM25
    SCORING_BOOLEAN rewrite through the unchanged exact path — the
    same contract as prefix/fuzzy expansion. The DuckDB oracle runs
    the identical anchored regex over its term frequencies."""
    from spcht_spark.index.prefix import wildcard_topk

    idx = _persisted_index(spark, sf_dir)
    qs = [(qid, p, DOC_K + 5) for qid, p in DOC_WILDCARD_QUERIES]
    out = wildcard_topk(
        spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats, qs,
        max_expansions=_WILDCARD_MAX_EXPANSIONS,
    )
    return _rerank_rounded(out)


def _wildcard_bm25_sql() -> str:
    from spcht_spark.index.prefix import wildcard_regex

    vals = ", ".join(
        f"('{qid}', '{wildcard_regex(p)}')" for qid, p in DOC_WILDCARD_QUERIES
    )
    return f"""
WITH {_TOK_SQL},
  dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
  stats AS (SELECT count(*)::BIGINT AS n_docs,
                   (sum(dl)::DOUBLE / count(*)) AS avgdl FROM dl),
  dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
  p(query_id, rx) AS (VALUES {vals}),
  e AS (SELECT query_id, term FROM (
          SELECT p.query_id, dft.term,
                 row_number() OVER (PARTITION BY p.query_id
                                    ORDER BY dft.df DESC, dft.term) AS rn
          FROM p JOIN dft ON regexp_matches(dft.term, p.rx))
        WHERE rn <= {_WILDCARD_MAX_EXPANSIONS}),
  scored AS (
    SELECT e.query_id, tf.doc_id,
           sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                * (tf.tf * 2.2)
                / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl))) ) AS raw
    FROM e JOIN dft USING (term) JOIN tf USING (term)
         JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
    GROUP BY e.query_id, tf.doc_id),
  ranked AS (
    SELECT query_id, doc_id, round(raw, 4) AS score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(raw, 6) DESC, doc_id)::INTEGER AS rank
    FROM scored)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DOC_K}
"""


_ANALYZED_SPEC = "lowercase,stop,sstem"
# Mixed-case / plural query forms: the analyzer chain must fold them to
# the index's folded vocabulary (windows→window, Joins→join, …).
DOC_ANALYZED_QUERIES: list[tuple[str, list[str]]] = [
    ("az_mixed", ["Windows", "Joins"]),
    ("az_plural", ["hashes", "streams"]),
    ("az_stop", ["the", "customer"]),  # stopword term matches nothing
]


def _persisted_analyzed_index(spark: SparkSession, sf_dir: str):
    """Analyzer-chain twin of _persisted_index (lowercase + stopword
    removal + S-stemming at build; the same chain folds query terms).
    Built once per source fingerprint, committed term-sorted."""
    from spcht_spark.index.build import IndexTables, build_index

    key = _source_fingerprint(sf_dir)
    root = os.path.join(_INDEX_CACHE_ROOT, f"az-{key}")
    names = ("blocks", "doclens", "dictionary", "stats")
    if not all(
        os.path.exists(os.path.join(root, n, "_SUCCESS")) for n in names
    ):
        idx = build_index(
            spark, _index_corpus(spark, sf_dir), tokenizer="ws",
            shard_span=_INDEX_SHARD_SPAN, analyzer=_ANALYZED_SPEC,
        )
        idx.blocks.sortWithinPartitions("term").write.mode("overwrite").parquet(
            os.path.join(root, "blocks")
        )
        for n in ("doclens", "dictionary", "stats"):
            getattr(idx, n).write.mode("overwrite").parquet(os.path.join(root, n))
    t = {n: spark.read.parquet(os.path.join(root, n)) for n in names}
    return IndexTables(
        None, t["doclens"], t["dictionary"], t["stats"], t["blocks"],
        shard_span=_INDEX_SHARD_SPAN, analyzer=_ANALYZED_SPEC,
    )


def _az_fold(term: str) -> str:
    from spcht_spark.index.analyze import fold_token_py

    out = fold_token_py(term.lower(), _ANALYZED_SPEC)
    return term.lower() if out is None else out


def q_index_analyzed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 over the ANALYZED index (Solr analyzer-chain parity): the
    corpus is lowercased, stopword-filtered and S-stemmed at build —
    affecting postings, doc lengths, avgdl and idf — and query terms
    fold through the IDENTICAL chain, so `Windows` retrieves docs
    containing `window`/`windows`. The DuckDB oracle re-implements the
    chain in SQL (spcht_spark.index.analyze.fold_token_sql), so the
    whole analyze→index→score pipeline is value-checked end-to-end."""
    from spcht_spark.index.query import exact_topk

    idx = _persisted_analyzed_index(spark, sf_dir)
    qs = [
        (qid, [_az_fold(t) for t in ts], DOC_K + 5)
        for qid, ts in DOC_ANALYZED_QUERIES
    ]
    out = exact_topk(spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats, qs)
    return _rerank_rounded(out)


def _analyzed_bm25_sql() -> str:
    from spcht_spark.index.analyze import fold_token_sql

    vals = ", ".join(
        f"('{qid}', '{_az_fold(t)}')"
        for qid, ts in DOC_ANALYZED_QUERIES
        for t in sorted(set(ts))
    )
    fold_expr = fold_token_sql("lower(raw)", _ANALYZED_SPEC)
    return f"""
WITH rawtok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS raw FROM documents),
  tok AS (SELECT doc_id, {fold_expr} AS term
          FROM rawtok WHERE raw <> ''),
  tf AS (SELECT doc_id, term, count(*) AS tf
         FROM tok WHERE term IS NOT NULL GROUP BY doc_id, term),
  dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
  stats AS (SELECT count(*)::BIGINT AS n_docs,
                   (sum(dl)::DOUBLE / count(*)) AS avgdl FROM dl),
  dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
  q(query_id, term) AS (VALUES {vals}),
  scored AS (
    SELECT q.query_id, tf.doc_id,
           sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                * (tf.tf * 2.2)
                / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl))) ) AS raw
    FROM q JOIN dft USING (term) JOIN tf USING (term)
         JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
    GROUP BY q.query_id, tf.doc_id),
  ranked AS (
    SELECT query_id, doc_id, round(raw, 4) AS score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(raw, 6) DESC, doc_id)::INTEGER AS rank
    FROM scored)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DOC_K}
"""


# (query_id, 'term~d') — distance-bounded fuzzy terms over the corpus
# vocabulary: transposition (spakr→spark, d=2 plain Levenshtein),
# deletion (windw→window, d=1), and an exact term with a fuzzy budget.
DOC_FUZZY_QUERIES: list[tuple[str, str]] = [
    ("fz_spark", "spakr~2"),
    ("fz_window", "windw~1"),
    ("fz_exact", "customer~1"),
]
_FUZZY_MAX_EXPANSIONS = 5


def q_index_fuzzy_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy term queries (Lucene ``term~d``, SCORING_BOOLEAN rewrite):
    each ``term~d`` expands against the dictionary — length-band prune
    + JVM levenshtein, capped at the top-5 by (distance asc, df desc,
    term asc) so the exact term and nearest corrections always survive
    — then scores as a disjunctive BM25 query through the unchanged
    exact path over the persisted blocks (spcht_spark.index.fuzzy)."""
    from spcht_spark.index.fuzzy import fuzzy_topk

    idx = _persisted_index(spark, sf_dir)
    qs = [(qid, q, DOC_K + 5) for qid, q in DOC_FUZZY_QUERIES]
    out = fuzzy_topk(
        spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats, qs,
        max_expansions=_FUZZY_MAX_EXPANSIONS,
    )
    return _rerank_rounded(out)


def _fuzzy_bm25_sql() -> str:
    vals = ", ".join(
        f"('{qid}', '{q.rsplit('~', 1)[0]}', {q.rsplit('~', 1)[1]})"
        for qid, q in DOC_FUZZY_QUERIES
    )
    return f"""
WITH {_TOK_SQL},
  dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
  stats AS (SELECT count(*)::BIGINT AS n_docs,
                   (sum(dl)::DOUBLE / count(*)) AS avgdl FROM dl),
  dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
  p(query_id, base, dist) AS (VALUES {vals}),
  e AS (SELECT query_id, term FROM (
          SELECT p.query_id, dft.term,
                 row_number() OVER (PARTITION BY p.query_id
                                    ORDER BY levenshtein(dft.term, p.base),
                                             dft.df DESC, dft.term) AS rn
          FROM p JOIN dft
            ON abs(length(dft.term) - length(p.base)) <= p.dist
           AND levenshtein(dft.term, p.base) <= p.dist)
        WHERE rn <= {_FUZZY_MAX_EXPANSIONS}),
  scored AS (
    SELECT e.query_id, tf.doc_id,
           sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                * (tf.tf * 2.2)
                / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl))) ) AS raw
    FROM e JOIN dft USING (term) JOIN tf USING (term)
         JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
    GROUP BY e.query_id, tf.doc_id),
  ranked AS (
    SELECT query_id, doc_id, round(raw, 4) AS score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(raw, 6) DESC, doc_id)::INTEGER AS rank
    FROM scored)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DOC_K}
"""


def q_index_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field collapsing (Solr collapse/group.field): each query's
    result page keeps only the best-scoring doc per `source` group,
    ranked by that head doc's score. Head selection windows over
    (query, group) — group-sized partitions — and the head page uses
    the shared salted top-k; ordering is the (round(score,6), doc_id)
    determinism contract."""
    from spcht_spark.index.collapse import collapse_topk

    idx = _persisted_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    qs = [(qid, ts, DOC_K) for qid, ts in DOC_QUERIES]
    return collapse_topk(
        spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats,
        docs.select("doc_id", "source"), "source", qs,
    )


def _collapse_sql() -> str:
    vals = ", ".join(f"('{qid}', '{t}')" for qid, ts in DOC_QUERIES for t in ts)
    return f"""
WITH {_TOK_SQL},
  dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
  stats AS (SELECT count(*)::BIGINT AS n_docs,
                   (sum(dl)::DOUBLE / count(*)) AS avgdl FROM dl),
  dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
  q(query_id, term) AS (VALUES {vals}),
  scored AS (
    SELECT q.query_id, tf.doc_id,
           sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                * (tf.tf * 2.2)
                / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl))) ) AS raw
    FROM q JOIN dft USING (term) JOIN tf USING (term)
         JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
    GROUP BY q.query_id, tf.doc_id),
  jg AS (SELECT s.query_id, s.doc_id, s.raw, d.source AS grp
         FROM scored s JOIN documents d USING (doc_id)),
  heads AS (SELECT query_id, doc_id, raw, grp FROM (
              SELECT *, row_number() OVER (
                        PARTITION BY query_id, grp
                        ORDER BY round(raw, 6) DESC, doc_id) AS g_rn
              FROM jg) WHERE g_rn = 1),
  ranked AS (
    SELECT query_id, doc_id, round(raw, 4) AS score, grp,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(raw, 6) DESC, doc_id)::INTEGER AS rank
    FROM heads)
SELECT query_id, rank, doc_id, score, grp FROM ranked WHERE rank <= {DOC_K}
"""


_GROUP_LIMIT = 3
_GROUP_K = 3


def q_index_group_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Result grouping (Solr ``group=true&group.field=lang&
    group.limit=3``): the top-3 lang groups per query ranked by their
    best doc, each carrying its total match count (per-group numFound)
    and its top-3 docs. Same machinery as collapse — one narrow
    doc_id join for the group key, group-sized window partitions,
    salted head top-k — generalized to multi-doc groups."""
    from spcht_spark.index.grouping import group_topk

    idx = _persisted_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    qs = [(qid, ts, _GROUP_K) for qid, ts in DOC_QUERIES]
    return group_topk(
        spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats,
        docs.select("doc_id", "lang"), "lang", qs, group_limit=_GROUP_LIMIT,
    )


def _group_topk_sql() -> str:
    vals = ", ".join(f"('{qid}', '{t}')" for qid, ts in DOC_QUERIES for t in ts)
    return f"""
WITH {_TOK_SQL},
  dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
  stats AS (SELECT count(*)::BIGINT AS n_docs,
                   (sum(dl)::DOUBLE / count(*)) AS avgdl FROM dl),
  dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
  q(query_id, term) AS (VALUES {vals}),
  scored AS (
    SELECT q.query_id, tf.doc_id,
           sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                * (tf.tf * 2.2)
                / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl))) ) AS raw
    FROM q JOIN dft USING (term) JOIN tf USING (term)
         JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
    GROUP BY q.query_id, tf.doc_id),
  jg AS (SELECT s.query_id, s.doc_id, s.raw, d.lang::VARCHAR AS grp
         FROM scored s JOIN documents d USING (doc_id)),
  m AS (SELECT *,
               row_number() OVER (PARTITION BY query_id, grp
                                  ORDER BY round(raw, 6) DESC, doc_id) AS doc_rank,
               count(*) OVER (PARTITION BY query_id, grp) AS grp_n
        FROM jg),
  gr AS (SELECT query_id, grp,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY h_score DESC, h_doc) AS grp_rank
         FROM (SELECT query_id, grp, round(raw, 6) AS h_score,
                      doc_id AS h_doc
               FROM m WHERE doc_rank = 1))
SELECT m.query_id, gr.grp_rank::INTEGER AS grp_rank, m.grp,
       m.grp_n::BIGINT AS grp_n, m.doc_rank::INTEGER AS doc_rank,
       m.doc_id, round(m.raw, 4) AS score
FROM m JOIN gr ON m.query_id = gr.query_id AND m.grp = gr.grp
WHERE gr.grp_rank <= {_GROUP_K} AND m.doc_rank <= {_GROUP_LIMIT}
"""


def q_index_group_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """group.sort (Solr ``group=true&group.sort=n_chars asc``): docs
    WITHIN each group ordered by an attr field (NULLS LAST), while the
    groups still rank by their best doc under the main relevance sort
    — Solr's sort/group.sort split, one window pass either way."""
    from spcht_spark.index.grouping import group_topk

    idx = _persisted_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    qs = [(qid, ts, _GROUP_K) for qid, ts in DOC_QUERIES]
    return group_topk(
        spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats,
        docs.select("doc_id", "lang", "n_chars"), "lang", qs,
        group_limit=_GROUP_LIMIT, group_sort=("n_chars", False),
    )


def _group_sort_sql() -> str:
    vals = ", ".join(f"('{qid}', '{t}')" for qid, ts in DOC_QUERIES for t in ts)
    return f"""
WITH {_TOK_SQL},
  dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
  stats AS (SELECT count(*)::BIGINT AS n_docs,
                   (sum(dl)::DOUBLE / count(*)) AS avgdl FROM dl),
  dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
  q(query_id, term) AS (VALUES {vals}),
  scored AS (
    SELECT q.query_id, tf.doc_id,
           sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                * (tf.tf * 2.2)
                / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl))) ) AS raw
    FROM q JOIN dft USING (term) JOIN tf USING (term)
         JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
    GROUP BY q.query_id, tf.doc_id),
  jg AS (SELECT s.query_id, s.doc_id, s.raw, d.lang::VARCHAR AS grp,
                d.n_chars
         FROM scored s JOIN documents d USING (doc_id)),
  m AS (SELECT *,
               row_number() OVER (PARTITION BY query_id, grp
                                  ORDER BY n_chars ASC NULLS LAST, doc_id)
                 AS doc_rank,
               count(*) OVER (PARTITION BY query_id, grp) AS grp_n,
               max(struct_pack(s := round(raw, 6), nd := -doc_id))
                 OVER (PARTITION BY query_id, grp) AS best
        FROM jg),
  gr AS (SELECT query_id, grp,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY h_score DESC, h_doc) AS grp_rank
         FROM (SELECT query_id, grp, best.s AS h_score,
                      -best.nd AS h_doc
               FROM m WHERE doc_rank = 1))
SELECT m.query_id, gr.grp_rank::INTEGER AS grp_rank, m.grp,
       m.grp_n::BIGINT AS grp_n, m.doc_rank::INTEGER AS doc_rank,
       m.doc_id, round(m.raw, 4) AS score
FROM m JOIN gr ON m.query_id = gr.query_id AND m.grp = gr.grp
WHERE gr.grp_rank <= {_GROUP_K} AND m.doc_rank <= {_GROUP_LIMIT}
"""


_INTERVALS = ["[0,800)", "[800,1200)", "[1200,*]", "[*,1000]"]


def q_index_interval_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval facets (Solr ``facet.interval=n_chars`` +
    ``facet.interval.set=[0,800)``...): each — possibly OVERLAPPING —
    interval counts matched docs whose value lies in it; one
    conditional-sum partial-agg pass, no explode of the matched set."""
    from spcht_spark.index.facets import interval_facets

    idx = _persisted_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    return interval_facets(
        spark, idx.blocks, DOC_QUERIES, docs.select("doc_id", "n_chars"),
        "n_chars", _INTERVALS,
    )


def _interval_facets_sql() -> str:
    vals = ", ".join(f"('{qid}', '{t}')" for qid, ts in DOC_QUERIES for t in ts)
    conds = {
        "[0,800)": "v >= 0 AND v < 800",
        "[800,1200)": "v >= 800 AND v < 1200",
        "[1200,*]": "v >= 1200",
        "[*,1000]": "v <= 1000",
    }
    sums = ",\n       ".join(
        f"sum(CASE WHEN {cond} THEN 1 ELSE 0 END)::BIGINT AS \"{spec}\""
        for spec, cond in conds.items()
    )
    unpivots = ", ".join(f"('{s}', \"{s}\")" for s in conds)
    return f"""
WITH {_TOK_SQL},
  q(query_id, term) AS (VALUES {vals}),
  m AS (SELECT DISTINCT q.query_id, tf.doc_id FROM q JOIN tf USING (term)),
  j AS (SELECT m.query_id, d.n_chars::DOUBLE AS v
        FROM m JOIN documents d USING (doc_id)),
  wide AS (SELECT query_id, {sums} FROM j GROUP BY query_id)
SELECT query_id, u.interval, u.n
FROM wide, LATERAL (VALUES {unpivots}) AS u(interval, n)
"""


def q_index_range_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit facet.range API (start/end/gap + other=all, hardend
    off): gap buckets keyed by lower bound, last bucket overshooting
    end by Solr hardend semantics, before/after/between counts — all
    in the same single conditional-sum pass as interval facets."""
    from spcht_spark.index.facets import range_facets

    idx = _persisted_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    return range_facets(
        spark, idx.blocks, DOC_QUERIES, docs.select("doc_id", "n_chars"),
        "n_chars", start=600.0, end=1500.0, gap=400.0, others=("all",),
    )


def _range_facets_sql() -> str:
    vals = ", ".join(f"('{qid}', '{t}')" for qid, ts in DOC_QUERIES for t in ts)
    # buckets: [600,1000) [1000,1400) [1400,1800) (end 1500, no hardend
    # -> last bucket overshoots to 1800, end_actual = 1800)
    conds = {
        "600": "v >= 600 AND v < 1000",
        "1000": "v >= 1000 AND v < 1400",
        "1400": "v >= 1400 AND v < 1800",
        "before": "v < 600",
        "after": "v >= 1800",
        "between": "v >= 600 AND v < 1800",
    }
    sums = ",\n       ".join(
        f"sum(CASE WHEN {cond} THEN 1 ELSE 0 END)::BIGINT AS \"{b}\""
        for b, cond in conds.items()
    )
    unpivots = ", ".join(f"('{b}', \"{b}\")" for b in conds)
    return f"""
WITH {_TOK_SQL},
  q(query_id, term) AS (VALUES {vals}),
  m AS (SELECT DISTINCT q.query_id, tf.doc_id FROM q JOIN tf USING (term)),
  j AS (SELECT m.query_id, d.n_chars::DOUBLE AS v
        FROM m JOIN documents d USING (doc_id)),
  wide AS (SELECT query_id, {sums} FROM j GROUP BY query_id)
SELECT query_id, u.bucket, u.n
FROM wide, LATERAL (VALUES {unpivots}) AS u(bucket, n)
"""


def q_index_stats_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats component over a STRING field (Solr: lexicographic
    min/max + missing + calcdistinct, no sum/mean) — the dtype-routed
    twin of index_stats_field."""
    from spcht_spark.index.facets import field_stats_string

    idx = _persisted_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    return field_stats_string(
        spark, idx.blocks, DOC_QUERIES, docs.select("doc_id", "source"),
        "source",
    )


def _stats_string_sql() -> str:
    vals = ", ".join(f"('{qid}', '{t}')" for qid, ts in DOC_QUERIES for t in ts)
    return f"""
WITH {_TOK_SQL},
  q(query_id, term) AS (VALUES {vals}),
  m AS (SELECT DISTINCT q.query_id, tf.doc_id FROM q JOIN tf USING (term)),
  j AS (SELECT m.query_id, d.source::VARCHAR AS v
        FROM m LEFT JOIN documents d USING (doc_id))
SELECT query_id, count(v)::BIGINT AS n,
       min(v) AS min_v, max(v) AS max_v,
       sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_missing,
       count(DISTINCT v)::BIGINT AS n_distinct
FROM j GROUP BY query_id
"""


def q_index_pivot_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot facets (Solr ``facet.pivot=lang,source``): hierarchical
    counts over each query's matching set — per-(lang, source) leaves
    plus per-lang subtotals (value2='*'), produced by ONE Catalyst
    ROLLUP pass over match⋈attrs instead of two groupBys. The DuckDB
    oracle runs the identical GROUP BY ROLLUP + GROUPING() filter."""
    from spcht_spark.index.grouping import pivot_facets

    idx = _persisted_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    return pivot_facets(
        spark, idx.blocks, DOC_QUERIES,
        docs.select("doc_id", "lang", "source"), "lang", "source",
    )


def _pivot_facets_sql() -> str:
    vals = ", ".join(f"('{qid}', '{t}')" for qid, ts in DOC_QUERIES for t in ts)
    return f"""
WITH {_TOK_SQL},
  q(query_id, term) AS (VALUES {vals}),
  m AS (SELECT DISTINCT q.query_id, tf.doc_id FROM q JOIN tf USING (term)),
  j AS (SELECT m.query_id, d.lang::VARCHAR AS value1,
               d.source::VARCHAR AS value2
        FROM m JOIN documents d USING (doc_id)),
  r AS (SELECT query_id, value1, value2, count(*)::BIGINT AS n,
               GROUPING(query_id) AS g0, GROUPING(value1) AS g1,
               GROUPING(value2) AS g2
        FROM j GROUP BY ROLLUP(query_id, value1, value2))
SELECT query_id, value1,
       CASE WHEN g2 = 1 THEN '*' ELSE value2 END AS value2, n
FROM r WHERE g0 = 0 AND g1 = 0
"""


def q_index_pivot3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level pivot facets (Solr ``facet.pivot=f1,f2,f3`` —
    arbitrary comma-list depth, round-4 VERDICT next #6): 3-level
    hierarchical counts over each query's matching set — (lang,
    source, length-band) leaves plus per-(lang, source) and per-lang
    subtotals (PIVOT_ALL tail) — ALL levels from ONE Catalyst ROLLUP
    pass over match⋈attrs; the deeper hierarchy adds zero extra
    shuffles vs the 2-level pivot. The DuckDB oracle runs the
    identical GROUP BY ROLLUP + GROUPING() filter."""
    from spcht_spark.index.grouping import pivot_facets

    idx = _persisted_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    attrs = docs.select(
        "doc_id", "lang", "source",
        F.floor(F.col("n_chars") / 200).cast("long").alias("len_bkt"),
    )
    return pivot_facets(
        spark, idx.blocks, DOC_QUERIES, attrs, "lang", "source", "len_bkt",
    )


def _pivot3_sql() -> str:
    vals = ", ".join(f"('{qid}', '{t}')" for qid, ts in DOC_QUERIES for t in ts)
    return f"""
WITH {_TOK_SQL},
  q(query_id, term) AS (VALUES {vals}),
  m AS (SELECT DISTINCT q.query_id, tf.doc_id FROM q JOIN tf USING (term)),
  j AS (SELECT m.query_id, d.lang::VARCHAR AS value1,
               d.source::VARCHAR AS value2,
               floor(d.n_chars / 200)::BIGINT::VARCHAR AS value3
        FROM m JOIN documents d USING (doc_id)),
  r AS (SELECT query_id, value1, value2, value3, count(*)::BIGINT AS n,
               GROUPING(query_id) AS g0, GROUPING(value1) AS g1,
               GROUPING(value2) AS g2, GROUPING(value3) AS g3
        FROM j GROUP BY ROLLUP(query_id, value1, value2, value3))
SELECT query_id, value1,
       CASE WHEN g2 = 1 THEN '*' ELSE value2 END AS value2,
       CASE WHEN g3 = 1 THEN '*' ELSE value3 END AS value3, n
FROM r WHERE g0 = 0 AND g1 = 0
"""


_NGROUPS_LIMIT = 2
_NGROUPS_K = 3


def q_index_group_ngroups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Result grouping with ``group.ngroups=true`` (round-4 VERDICT
    next #6): top-3 source groups per query (top-2 docs each) PLUS the
    total distinct-group count of the whole matching set on every row
    — Solr reports ngroups next to the group list. The count comes
    from the heads frame the group ranking already materializes (one
    row per (query, group)), so it costs one agg over group-cardinality
    rows and a broadcast join, never a second scan of the scored
    docs."""
    from spcht_spark.index.grouping import group_topk

    idx = _persisted_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    qs = [(qid, ts, _NGROUPS_K) for qid, ts in DOC_QUERIES]
    return group_topk(
        spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats,
        docs.select("doc_id", "source"), "source", qs,
        group_limit=_NGROUPS_LIMIT, ngroups=True,
    )


def _group_ngroups_sql() -> str:
    vals = ", ".join(f"('{qid}', '{t}')" for qid, ts in DOC_QUERIES for t in ts)
    return f"""
WITH {_TOK_SQL},
  dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
  stats AS (SELECT count(*)::BIGINT AS n_docs,
                   (sum(dl)::DOUBLE / count(*)) AS avgdl FROM dl),
  dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
  q(query_id, term) AS (VALUES {vals}),
  scored AS (
    SELECT q.query_id, tf.doc_id,
           sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                * (tf.tf * 2.2)
                / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl))) ) AS raw
    FROM q JOIN dft USING (term) JOIN tf USING (term)
         JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
    GROUP BY q.query_id, tf.doc_id),
  jg AS (SELECT s.query_id, s.doc_id, s.raw, d.source::VARCHAR AS grp
         FROM scored s JOIN documents d USING (doc_id)),
  ng AS (SELECT query_id, count(DISTINCT grp)::BIGINT AS ngroups
         FROM jg GROUP BY query_id),
  m AS (SELECT *,
               row_number() OVER (PARTITION BY query_id, grp
                                  ORDER BY round(raw, 6) DESC, doc_id) AS doc_rank,
               count(*) OVER (PARTITION BY query_id, grp) AS grp_n
        FROM jg),
  gr AS (SELECT query_id, grp,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY h_score DESC, h_doc) AS grp_rank
         FROM (SELECT query_id, grp, round(raw, 6) AS h_score,
                      doc_id AS h_doc
               FROM m WHERE doc_rank = 1))
SELECT m.query_id, gr.grp_rank::INTEGER AS grp_rank, m.grp,
       m.grp_n::BIGINT AS grp_n, m.doc_rank::INTEGER AS doc_rank,
       m.doc_id, round(m.raw, 4) AS score, ng.ngroups
FROM m JOIN gr ON m.query_id = gr.query_id AND m.grp = gr.grp
     JOIN ng ON ng.query_id = m.query_id
WHERE gr.grp_rank <= {_NGROUPS_K} AND m.doc_rank <= {_NGROUPS_LIMIT}
"""


# facet.query set: a scoring boolean, a term-free negation, a pure
# attribute range, and a term × range mix — the universe is each base
# query's DocSet, so term-free predicates count correctly.
DOC_FACET_QUERIES: dict[str, str] = {
    "f_and": "spark AND join",
    "f_not_join": "NOT join",
    "f_range": "n_chars:[200 TO 600]",
    "f_mixed": "hash AND n_chars:[0 TO 400]",
}


def q_index_facet_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr ``facet.query``: per base query, how many of its matching
    docs also satisfy each named boolean facet query (full q language
    incl. NOT and metadata ranges). Facet-term presence comes from one
    pruned block scan semi-joined to the base ids; each AST evaluates
    as a Catalyst predicate over (present terms, attrs); counts are
    zero-filled per (query, facet) like Solr's response."""
    from spcht_spark.index.grouping import facet_query_counts

    idx = _persisted_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    return facet_query_counts(
        spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats,
        DOC_QUERIES, DOC_FACET_QUERIES,
        attrs=docs.select("doc_id", "n_chars"),
    )


def _facet_query_sql() -> str:
    from spcht_spark.index.boolean import ast_terms, ast_to_duckdb, parse_query

    parsed = {
        name: parse_query(s, require_positive=False)
        for name, s in DOC_FACET_QUERIES.items()
    }
    fterms = sorted({t for ast in parsed.values() for t in ast_terms(ast)})
    tvals = ", ".join(f"'{t}'" for t in fterms)
    vals = ", ".join(f"('{qid}', '{t}')" for qid, ts in DOC_QUERIES for t in ts)
    branches = "\nUNION ALL\n".join(
        f"SELECT query_id, '{name}' AS facet,\n"
        f"       sum(CASE WHEN {ast_to_duckdb(ast, 'present', '')} "
        f"THEN 1 ELSE 0 END)::BIGINT AS n\nFROM u GROUP BY query_id"
        for name, ast in sorted(parsed.items())
    )
    return f"""
WITH {_TOK_SQL},
  q(query_id, term) AS (VALUES {vals}),
  base AS (SELECT DISTINCT q.query_id, tf.doc_id FROM q JOIN tf USING (term)),
  pres AS (SELECT doc_id, list(DISTINCT term) AS present
           FROM tf WHERE term IN ({tvals}) GROUP BY doc_id),
  u AS (SELECT b.query_id, b.doc_id,
               COALESCE(p.present, []::VARCHAR[]) AS present, d.n_chars
        FROM base b LEFT JOIN pres p USING (doc_id)
             JOIN documents d USING (doc_id))
{branches}
"""


def q_index_stats_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr stats component: count/min/max/sum/mean of n_chars over
    ALL matching docs per query — the matching-doc set from the
    term-pruned block scan, one partial-agg groupBy."""
    from spcht_spark.index.facets import field_stats

    idx = _persisted_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    return field_stats(
        spark, idx.blocks, DOC_QUERIES, docs.select("doc_id", "n_chars"), "n_chars"
    )


def _stats_field_sql() -> str:
    vals = ", ".join(f"('{qid}', '{t}')" for qid, ts in DOC_QUERIES for t in ts)
    return f"""
WITH {_TOK_SQL},
  q(query_id, term) AS (VALUES {vals}),
  m AS (SELECT DISTINCT q.query_id, tf.doc_id FROM q JOIN tf USING (term)),
  j AS (SELECT m.query_id, d.n_chars FROM m JOIN documents d USING (doc_id))
SELECT query_id, count(*)::BIGINT AS n,
       min(n_chars)::BIGINT AS min_v, max(n_chars)::BIGINT AS max_v,
       sum(n_chars)::BIGINT AS sum_v,
       (sum(n_chars)::DOUBLE / count(*)) AS avg_v
FROM j GROUP BY query_id
"""


_SUGGEST_TERMS = ["spakr", "jion", "windw", "customr", "zzzzzzzz"]


_COMPLETE_PREFIXES = ["s", "w", "b", "jo", "zz"]  # multi-hit, single, absent


def q_index_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suggester component (Solr /suggest): complete typed prefixes to
    dictionary terms ranked by df (the FST-with-frequency-weights
    twin); startswith prunes the sorted dictionary scan via row-group
    stats, the prefix batch broadcasts."""
    from spcht_spark.index.suggest import complete

    idx = _persisted_index(spark, sf_dir)
    return complete(spark, idx.dictionary, _COMPLETE_PREFIXES, top_n=5)


def _complete_sql() -> str:
    vals = ", ".join(f"('{p}')" for p in sorted(set(_COMPLETE_PREFIXES)))
    return f"""
WITH {_TOK_SQL},
  dft AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df
          FROM tf GROUP BY term),
  p(prefix) AS (VALUES {vals}),
  cand AS (
    SELECT p.prefix, dft.term, dft.df,
           row_number() OVER (PARTITION BY p.prefix
                              ORDER BY dft.df DESC, dft.term)::INTEGER AS rank
    FROM p JOIN dft ON starts_with(dft.term, p.prefix))
SELECT prefix, rank, term AS suggestion, df AS weight
FROM cand WHERE rank <= 5
"""


def q_index_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spellcheck suggestions (Solr spellcheck component): misspelled
    terms corrected from the index's own dictionary, ranked (edit
    distance asc, df desc, term asc), top-5 within distance 2.
    Candidates are pruned by the length-difference bound before the
    JVM levenshtein — the Spark twin of Lucene's FST + Levenshtein
    automaton walk."""
    from spcht_spark.index.suggest import suggest

    idx = _persisted_index(spark, sf_dir)
    return suggest(spark, idx.dictionary, _SUGGEST_TERMS, max_distance=2, top_n=5)


def _suggest_sql() -> str:
    vals = ", ".join(f"('{t}')" for t in sorted(set(_SUGGEST_TERMS)))
    return f"""
WITH {_TOK_SQL},
  dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
  q(qterm) AS (VALUES {vals}),
  cand AS (
    SELECT q.qterm, dft.term, dft.df,
           levenshtein(dft.term, q.qterm)::INTEGER AS distance
    FROM dft CROSS JOIN q
    WHERE abs(length(dft.term) - length(q.qterm)) <= 2),
  ranked AS (
    SELECT qterm, term AS suggestion, distance, df,
           row_number() OVER (PARTITION BY qterm
                              ORDER BY distance, df DESC, term)::INTEGER AS rank
    FROM cand WHERE distance BETWEEN 1 AND 2)
SELECT qterm, rank, suggestion, distance, df FROM ranked WHERE rank <= 5
"""


_SEARCH_Q = "spark AND join OR window"  # == (spark AND join) OR window
_SEARCH_TERMS = ["join", "spark", "window"]


def q_index_search_request(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One combined Solr-style request through the search facade
    (spcht_spark.index.search): boolean q + fq (lang ∈ {en, de}) +
    fl=lang + highlighting, all from ONE parsed query and ONE
    admissible-doc pass — the engine twin of the single request dict
    the reference submits (WorkOrder.py:693-707)."""
    from spcht_spark.index.search import SearchRequest, search

    idx = _persisted_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    fq = docs.where("lang IN ('en', 'de')").selectExpr("doc_id")
    resp = search(
        spark, idx, docs.withColumnRenamed("text", "content"),
        SearchRequest(
            q=_SEARCH_Q, k=DOC_K + 5, fq=fq, fl=["lang"], hl=True, hl_window=3
        ),
        query_id="sr0",
    )
    return resp.hits.selectExpr(
        "query_id",
        "row_number() OVER (PARTITION BY query_id "
        "ORDER BY round(score, 6) DESC, doc_id ASC) AS rank",
        "doc_id",
        "round(score, 4) AS score",
        "lang",
        "snippet",
    ).where(f"rank <= {DOC_K}")


def _search_request_sql() -> str:
    from spcht_spark.index.boolean import ast_to_duckdb, parse_query

    pred = ast_to_duckdb(parse_query(_SEARCH_Q))
    vals = ", ".join(f"('sr0', '{t}')" for t in _SEARCH_TERMS)
    leasts = ", ".join(
        f"coalesce(nullif(list_position(tk, '{t}'), 0), 1000000000)"
        for t in _SEARCH_TERMS
    )
    termlits = ", ".join(f"'{t}'" for t in _SEARCH_TERMS)
    w = 3
    return f"""
WITH {_TOK_SQL},
  dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
  stats AS (SELECT count(*)::BIGINT AS n_docs,
                   (sum(dl)::DOUBLE / count(*)) AS avgdl FROM dl),
  dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
  q(query_id, term) AS (VALUES {vals}),
  fq AS (SELECT doc_id FROM documents WHERE lang IN ('en', 'de')),
  g AS (
    SELECT q.query_id, tf.doc_id,
           list(DISTINCT tf.term) AS terms,
           sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                * (tf.tf * 2.2)
                / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl))) ) AS raw
    FROM q JOIN dft USING (term) JOIN tf USING (term)
         JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
    GROUP BY q.query_id, tf.doc_id),
  f AS (SELECT query_id, doc_id, raw FROM g
        WHERE {pred} AND doc_id IN (SELECT doc_id FROM fq)),
  ranked AS (
    SELECT query_id, doc_id, round(raw, 4) AS score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(raw, 6) DESC, doc_id)::INTEGER AS rank
    FROM f),
  tks AS (SELECT doc_id, lang, string_split(text, ' ') AS tk FROM documents),
  h AS (SELECT r.query_id, r.rank, r.doc_id, r.score, t.lang, t.tk,
               least({leasts}) AS p
        FROM ranked r JOIN tks t USING (doc_id) WHERE r.rank <= {DOC_K})
SELECT query_id, rank, doc_id, score, lang,
       CASE WHEN p >= 1000000000 THEN NULL ELSE
         array_to_string(list_transform(
           tk[greatest(1, p - {w}):greatest(1, p - {w}) + {2 * w}],
           t -> CASE WHEN t IN ({termlits})
                     THEN '<em>' || t || '</em>' ELSE t END), ' ')
       END AS snippet
FROM h
"""


DOC_ATTRQ_QUERIES: list[tuple[str, str]] = [
    ("aq_range", "join AND n_chars:[300 TO *]"),
    ("aq_eq", "(window OR stream) AND lang:en"),
    ("aq_negattr", "hash AND NOT lang:zh"),
    ("aq_band", "spark AND n_chars:[200 TO 400]"),
]


def q_index_attr_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-``q`` metadata predicates (the reference's own pattern: it
    ANDs ``last_indexed:[t TO *]`` into the Solr query string,
    WorkOrder.py:702-707): ``field:value`` / ``field:[lo TO hi]``
    clauses parse into the boolean AST, candidates left-join the
    attribute table on doc_id (candidate rows only), and the clauses
    evaluate as Catalyst predicates — never scoring, exactly like
    Lucene constant-score filter clauses at boost 0."""
    from spcht_spark.index.boolean import boolean_topk

    idx = _persisted_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    qs = [(qid, s, DOC_K + 5) for qid, s in DOC_ATTRQ_QUERIES]
    out = boolean_topk(
        spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats, qs,
        attrs=docs.select("doc_id", "lang", "n_chars"),
    )
    return _rerank_rounded(out)


def _attr_query_sql() -> str:
    from spcht_spark.index.boolean import (
        ast_terms, ast_to_duckdb, parse_query, positive_terms,
    )

    parsed = [(qid, parse_query(s)) for qid, s in DOC_ATTRQ_QUERIES]
    vals = ", ".join(
        f"('{qid}', '{t}', {str(t in positive_terms(ast)).upper()})"
        for qid, ast in parsed
        for t in sorted(ast_terms(ast))
    )
    pred = " OR ".join(
        f"(query_id = '{qid}' AND {ast_to_duckdb(ast, attr_prefix='d.')})"
        for qid, ast in parsed
    )
    return f"""
WITH {_TOK_SQL},
  dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
  stats AS (SELECT count(*)::BIGINT AS n_docs,
                   (sum(dl)::DOUBLE / count(*)) AS avgdl FROM dl),
  dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
  q(query_id, term, is_pos) AS (VALUES {vals}),
  g AS (
    SELECT q.query_id, tf.doc_id,
           list(DISTINCT tf.term) AS terms,
           sum(CASE WHEN q.is_pos THEN
                 ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                 * (tf.tf * 2.2)
                 / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl)))
               ELSE 0.0 END) AS raw
    FROM q JOIN tf USING (term) JOIN dft USING (term)
         JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
    GROUP BY q.query_id, tf.doc_id),
  f AS (SELECT g.query_id, g.doc_id, g.raw
        FROM g JOIN documents d ON g.doc_id = d.doc_id
        WHERE {pred}),
  ranked AS (
    SELECT query_id, doc_id, round(raw, 4) AS score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(raw, 6) DESC, doc_id)::INTEGER AS rank
    FROM f)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DOC_K}
"""


DOC_BOOST_QUERIES: list[tuple[str, str]] = [
    ("tb_boost", "spark^3 join"),
    ("tb_down", "join^0.5 AND hash"),
    ("tb_mixed", "(join^0.5 AND hash) OR batch^2"),
]


def q_index_term_boosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-term boosts in the boolean language (Lucene ``term^2.5``):
    a positive term's BM25 contribution is scaled by its boost before
    the deterministic term-ordered fold; negated clauses still never
    score."""
    from spcht_spark.index.boolean import boolean_topk

    idx = _persisted_index(spark, sf_dir)
    qs = [(qid, s, DOC_K + 5) for qid, s in DOC_BOOST_QUERIES]
    out = boolean_topk(spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats, qs)
    return _rerank_rounded(out)


def _term_boosts_sql() -> str:
    from spcht_spark.index.boolean import (
        ast_terms, ast_to_duckdb, parse_query, positive_terms, term_boosts,
    )

    parsed = [(qid, parse_query(s)) for qid, s in DOC_BOOST_QUERIES]
    vals = ", ".join(
        f"('{qid}', '{t}', {str(t in positive_terms(ast)).upper()}, "
        f"{term_boosts(ast).get(t, 1.0)})"
        for qid, ast in parsed
        for t in sorted(ast_terms(ast))
    )
    pred = " OR ".join(
        f"(query_id = '{qid}' AND {ast_to_duckdb(ast)})" for qid, ast in parsed
    )
    return f"""
WITH {_TOK_SQL},
  dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
  stats AS (SELECT count(*)::BIGINT AS n_docs,
                   (sum(dl)::DOUBLE / count(*)) AS avgdl FROM dl),
  dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
  q(query_id, term, is_pos, boost) AS (VALUES {vals}),
  g AS (
    SELECT q.query_id, tf.doc_id,
           list(DISTINCT tf.term) AS terms,
           sum(CASE WHEN q.is_pos THEN
                 q.boost * ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                 * (tf.tf * 2.2)
                 / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl)))
               ELSE 0.0 END) AS raw
    FROM q JOIN tf USING (term) JOIN dft USING (term)
         JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
    GROUP BY q.query_id, tf.doc_id),
  f AS (SELECT query_id, doc_id, raw FROM g WHERE {pred}),
  ranked AS (
    SELECT query_id, doc_id, round(raw, 4) AS score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(raw, 6) DESC, doc_id)::INTEGER AS rank
    FROM f)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DOC_K}
"""


_EXPLAIN_TERMS = ["spark", "join", "window"]
_EXPLAIN_DOCS = [11, 42, 303]


def q_index_explain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score explanation (Lucene Explanation / Solr debugQuery): the
    per-term BM25 breakdown for chosen docs, from the persisted index
    with the block scan pruned on BOTH term and shard (doc → shard is
    a pure function of the doc-range layout, so explaining 3 docs
    decodes only the blocks that can contain them)."""
    from spcht_spark.index.explain import explain_scores

    idx = _persisted_index(spark, sf_dir)
    out = explain_scores(
        spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats,
        _EXPLAIN_TERMS, _EXPLAIN_DOCS, shard_span=_INDEX_SHARD_SPAN,
    )
    return out.select(
        "doc_id", "term", "tf", "dl", "df",
        F.round("idf", 6).alias("idf"), F.round("contrib", 6).alias("contrib"),
    )


def _explain_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in _EXPLAIN_TERMS)
    docs = ", ".join(str(d) for d in _EXPLAIN_DOCS)
    return f"""
WITH {_TOK_SQL},
  dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
  stats AS (SELECT count(*)::BIGINT AS n_docs,
                   (sum(dl)::DOUBLE / count(*)) AS avgdl FROM dl),
  dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term)
SELECT tf.doc_id, tf.term, tf.tf, dl.dl, dft.df,
       round(ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5)), 6) AS idf,
       round(ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl))), 6) AS contrib
FROM tf JOIN dft USING (term) JOIN dl ON tf.doc_id = dl.doc_id
     CROSS JOIN stats s
WHERE tf.term IN ({terms}) AND tf.doc_id IN ({docs})
"""


def q_index_terms_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr TermsComponent: dictionary rows under a prefix, ordered
    (df desc, term asc) — pure index-metadata scan, no postings."""
    from spcht_spark.index.explain import terms_component

    idx = _persisted_index(spark, sf_dir)
    return terms_component(idx.dictionary, prefix="s", limit=8)


def _terms_component_sql() -> str:
    return f"""
WITH {_TOK_SQL},
  dft AS (SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf
          FROM tf GROUP BY term)
SELECT row_number() OVER (ORDER BY df DESC, term)::INTEGER AS rank,
       term, df, cf
FROM dft WHERE term LIKE 's%'
QUALIFY rank <= 8
"""


# ------------------------- result post-processors / join / JSON facets

_RERANK_FETCH = 25      # candidates carried past the main query
_RERANK_DOCS = 15       # Solr reRankDocs
_RERANK_W = 2.0         # Solr reRankWeight
_RERANK_RQ_TERM = "hash"


def _round6_rank(out: DataFrame, k: int) -> DataFrame:
    """Deterministic rounding-contract rank (round(score,6) desc, doc
    asc) keeping the RAW score — the pre-k window shared by the
    post-processor entries (final output still rounds to 4)."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("score", 6)), F.asc("doc_id")
    )
    return (
        out.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def q_index_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr ReRankQParser (rq={!rerank reRankQuery=... reRankDocs=15
    reRankWeight=2}): the main BM25 page's top 15 get `main + 2·rq`
    and re-order among themselves; ranks 16..25 ride below untouched.
    The rq pass is candidate-bounded: boolean_matches scores the
    rerank term ONLY over the window's doc ids (doc_filter) — Solr
    reranks a collected window, it never re-runs a full search."""
    from spcht_spark.index.boolean import boolean_matches
    from spcht_spark.index.query import exact_topk
    from spcht_spark.index.rerank import rerank_topk

    idx = _persisted_index(spark, sf_dir)
    qs = [(qid, ts, _RERANK_FETCH + 5) for qid, ts in DOC_QUERIES]
    main = _round6_rank(
        exact_topk(spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats, qs),
        _RERANK_FETCH,
    )
    window_ids = main.filter(F.col("rank") <= _RERANK_DOCS).select("doc_id")
    rr = boolean_matches(
        spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats,
        [(qid, _RERANK_RQ_TERM, 1) for qid, _ in DOC_QUERIES],
        doc_filter=window_ids,
    ).select("query_id", "doc_id", "score")
    out = rerank_topk(main, rr, _RERANK_DOCS, _RERANK_W, k=DOC_K)
    return out.select(
        "query_id", "rank", "doc_id", F.round("score", 4).alias("score")
    )


def _rerank_sql() -> str:
    vals = ", ".join(f"('{qid}', '{t}')" for qid, ts in DOC_QUERIES for t in ts)
    rvals = ", ".join(f"('{qid}', '{_RERANK_RQ_TERM}')" for qid, _ in DOC_QUERIES)
    return f"""
WITH {_TOK_SQL},
  dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
  stats AS (SELECT count(*)::BIGINT AS n_docs,
                   (sum(dl)::DOUBLE / count(*)) AS avgdl FROM dl),
  dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
  q(query_id, term) AS (VALUES {vals}),
  scored AS (
    SELECT q.query_id, tf.doc_id,
           sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                * (tf.tf * 2.2)
                / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl))) ) AS raw
    FROM q JOIN dft USING (term) JOIN tf USING (term)
         JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
    GROUP BY q.query_id, tf.doc_id),
  win AS (
    SELECT query_id, doc_id, raw,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(raw, 6) DESC, doc_id) AS rank
    FROM scored QUALIFY rank <= {_RERANK_FETCH}),
  rq(query_id, term) AS (VALUES {rvals}),
  rscored AS (
    SELECT rq.query_id, tf.doc_id,
           sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                * (tf.tf * 2.2)
                / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl))) ) AS rraw
    FROM rq JOIN dft USING (term) JOIN tf USING (term)
         JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
    GROUP BY rq.query_id, tf.doc_id),
  comb AS (
    SELECT w.query_id, w.doc_id, w.rank,
           CASE WHEN w.rank <= {_RERANK_DOCS}
                THEN w.raw + {_RERANK_W} * coalesce(r.rraw, 0)
                ELSE w.raw END AS nraw,
           CASE WHEN w.rank <= {_RERANK_DOCS} THEN 0 ELSE 1 END AS sect
    FROM win w LEFT JOIN rscored r
         ON w.query_id = r.query_id AND w.doc_id = r.doc_id),
  final AS (
    SELECT query_id, doc_id, round(nraw, 4) AS score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sect,
                                       CASE WHEN sect = 0
                                            THEN -round(nraw, 6)
                                            ELSE rank::DOUBLE END,
                                       doc_id)::INTEGER AS rank
    FROM comb)
SELECT query_id, rank, doc_id, score FROM final WHERE rank <= {DOC_K}
"""


_ELEV_FETCH = 12


def q_index_elevate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr QueryElevationComponent: per query, the page docs with
    doc_id % 7 == 0 are pinned to the top (config order = doc_id asc)
    and docs with doc_id % 11 == 3 are dropped; the page backfills from
    the overfetch. The curated elevate.xml config is driver-side BY
    DESIGN (a hand-written list in Solr too) — the collect here is the
    page (≤ 12·|queries| rows), the Solr-client contract, like the
    cursor entry."""
    from spcht_spark.index.query import exact_topk
    from spcht_spark.index.rerank import elevate_hits

    idx = _persisted_index(spark, sf_dir)
    qs = [(qid, ts, _ELEV_FETCH + 5) for qid, ts in DOC_QUERIES]
    page = _round6_rank(
        exact_topk(spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats, qs),
        _ELEV_FETCH,
    )
    rows = page.collect()
    elev: dict[str, list] = {}
    excl: dict[str, list] = {}
    for r in rows:
        if r["doc_id"] % 7 == 0:
            elev.setdefault(r["query_id"], []).append(r["doc_id"])
        if r["doc_id"] % 11 == 3:
            excl.setdefault(r["query_id"], []).append(r["doc_id"])
    for v in elev.values():
        v.sort()
    out = elevate_hits(spark, page, elev, excl or None, k=DOC_K)
    return out.select(
        "query_id", "rank", "doc_id", F.round("score", 4).alias("score")
    )


def _elevate_sql() -> str:
    vals = ", ".join(f"('{qid}', '{t}')" for qid, ts in DOC_QUERIES for t in ts)
    return f"""
WITH {_TOK_SQL},
  dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
  stats AS (SELECT count(*)::BIGINT AS n_docs,
                   (sum(dl)::DOUBLE / count(*)) AS avgdl FROM dl),
  dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
  q(query_id, term) AS (VALUES {vals}),
  scored AS (
    SELECT q.query_id, tf.doc_id,
           sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                * (tf.tf * 2.2)
                / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl))) ) AS raw
    FROM q JOIN dft USING (term) JOIN tf USING (term)
         JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
    GROUP BY q.query_id, tf.doc_id),
  page AS (
    SELECT query_id, doc_id, raw,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(raw, 6) DESC, doc_id) AS rank
    FROM scored QUALIFY rank <= {_ELEV_FETCH}),
  kept AS (SELECT * FROM page WHERE doc_id % 11 <> 3),
  final AS (
    SELECT query_id, doc_id, round(raw, 4) AS score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 1 END,
                                       CASE WHEN doc_id % 7 = 0
                                            THEN doc_id ELSE rank END,
                                       doc_id)::INTEGER AS rank
    FROM kept)
SELECT query_id, rank, doc_id, score FROM final WHERE rank <= {DOC_K}
"""


def q_index_join_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr join query parser as fq — `fq={!join from=source
    to=source}lang:de` (same-core join): admissible docs are those
    whose SOURCE also produced a German doc. join_docs distincts the
    child value domain before the semi-join, then the (doc_id) frame
    masks the block-max WAND heap rank-safely like any fq."""
    from spcht_spark.index.join import join_docs
    from spcht_spark.index.wand import wand_topk

    idx = _persisted_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    attrs = docs.select("doc_id", "source", "lang")
    doc_filter = join_docs(attrs, "source", attrs, "source", "lang:de")
    qs = [(qid, ts, DOC_K + 5) for qid, ts in DOC_QUERIES]
    out = wand_topk(
        spark, idx.blocks, idx.dictionary, idx.stats, qs,
        doc_filter=doc_filter, shard_span=_INDEX_SHARD_SPAN,
    )
    return _rerank_rounded(out)


def _join_filter_sql() -> str:
    vals = ", ".join(f"('{qid}', '{t}')" for qid, ts in DOC_QUERIES for t in ts)
    return f"""
WITH {_TOK_SQL},
  dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
  stats AS (SELECT count(*)::BIGINT AS n_docs,
                   (sum(dl)::DOUBLE / count(*)) AS avgdl FROM dl),
  dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
  q(query_id, term) AS (VALUES {vals}),
  scored AS (
    SELECT q.query_id, tf.doc_id,
           sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                * (tf.tf * 2.2)
                / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl))) ) AS raw
    FROM q JOIN dft USING (term) JOIN tf USING (term)
         JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
    GROUP BY q.query_id, tf.doc_id),
  adm AS (
    SELECT s.* FROM scored s JOIN documents d ON s.doc_id = d.doc_id
    WHERE EXISTS (SELECT 1 FROM documents d2
                  WHERE d2.source = d.source AND d2.lang = 'de')),
  ranked AS (
    SELECT query_id, doc_id, round(raw, 4) AS score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(raw, 6) DESC, doc_id)::INTEGER AS rank
    FROM adm)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DOC_K}
"""


# Query-time synonym map (pre-analyzed) and the queries exercising it.
_SYN_MAP = {"spark": ["join"], "stream": ["batch"]}
_SYN_QUERIES = [("syn_one", "spark"), ("syn_or", "window OR stream")]
_SYN_EXPANDED = [
    ("syn_one", ["spark", "join"]),
    ("syn_or", ["window", "stream", "batch"]),
]


def q_index_synonym_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-time synonyms (Solr SynonymGraphFilter on the query
    chain): spark≡join, stream≡batch. Each expanded alternative scores
    with its own idf (Lucene scoring-boolean rewrite); the expansion
    happens on the AST before routing, so a flat synonym OR still
    rides the pruned block-max WAND path."""
    from spcht_spark.index.boolean import boolean_topk

    idx = _persisted_index(spark, sf_dir)
    qs = [(qid, s, DOC_K + 5) for qid, s in _SYN_QUERIES]
    out = boolean_topk(
        spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats, qs,
        synonyms=_SYN_MAP, shard_span=_INDEX_SHARD_SPAN,
    )
    return _rerank_rounded(out)


def _synonym_sql() -> str:
    vals = ", ".join(
        f"('{qid}', '{t}')" for qid, ts in _SYN_EXPANDED for t in ts
    )
    return f"""
WITH {_TOK_SQL},
  dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
  stats AS (SELECT count(*)::BIGINT AS n_docs,
                   (sum(dl)::DOUBLE / count(*)) AS avgdl FROM dl),
  dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
  q(query_id, term) AS (VALUES {vals}),
  scored AS (
    SELECT q.query_id, tf.doc_id,
           sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                * (tf.tf * 2.2)
                / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl))) ) AS raw
    FROM q JOIN dft USING (term) JOIN tf USING (term)
         JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
    GROUP BY q.query_id, tf.doc_id),
  ranked AS (
    SELECT query_id, doc_id, round(raw, 4) AS score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(raw, 6) DESC, doc_id)::INTEGER AS rank
    FROM scored)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DOC_K}
"""


_SUBFACET_L1, _SUBFACET_L2 = 3, 2


def q_index_subfacets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr JSON Facet API — terms facet (lang, limit 3) with a nested
    terms subfacet (source, limit 2) and a sum(n_chars) bucket metric,
    over each query's matching doc set. One leaf-level groupBy touches
    the docs; level 1 rolls up bucket rows, both limits through the
    salted two-stage window."""
    from spcht_spark.index.facets import json_subfacets

    idx = _persisted_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    return json_subfacets(
        spark, idx.blocks, DOC_QUERIES,
        docs.select("doc_id", "lang", "source", "n_chars"),
        "lang", "source", _SUBFACET_L1, _SUBFACET_L2, metric="n_chars",
    )


def _subfacets_sql() -> str:
    vals = ", ".join(f"('{qid}', '{t}')" for qid, ts in DOC_QUERIES for t in ts)
    return f"""
WITH {_TOK_SQL},
  q(query_id, term) AS (VALUES {vals}),
  m AS (SELECT DISTINCT q.query_id, tf.doc_id FROM q JOIN tf USING (term)),
  j AS (SELECT m.query_id, d.lang AS value1, d.source AS value2, d.n_chars
        FROM m JOIN documents d USING (doc_id)),
  leaves AS (SELECT query_id, value1, value2, count(*)::BIGINT AS n2,
                    sum(n_chars)::DOUBLE AS m2
             FROM j GROUP BY query_id, value1, value2),
  l1 AS (SELECT query_id, value1, sum(n2)::BIGINT AS n1,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY sum(n2) DESC, value1) AS r1
         FROM leaves GROUP BY query_id, value1),
  top1 AS (SELECT query_id, value1, n1 FROM l1 WHERE r1 <= {_SUBFACET_L1}),
  nested AS (
    SELECT l.query_id, l.value1, t.n1, l.value2, l.n2, l.m2,
           row_number() OVER (PARTITION BY l.query_id, l.value1
                              ORDER BY l.n2 DESC, l.value2) AS r2
    FROM leaves l JOIN top1 t USING (query_id, value1))
SELECT query_id, value1, n1, value2, n2, m2 FROM nested WHERE r2 <= {_SUBFACET_L2}
"""


# ------------------------------------------------- index-stats aggregates

def q_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary aggregates (SURVEY §2.4): df + cf per term."""
    tf = _doc_tokens(spark, sf_dir)
    return tf.groupBy("term").agg(
        F.expr("count(1)").alias("df"), F.expr("sum(tf)").alias("cf")
    )


Q_TERM_STATS_SQL = f"""
WITH {_TOK_SQL}
SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf FROM tf GROUP BY term
"""


def q_doclen_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-length distribution (avgdl inputs): corpus-stat aggregation."""
    tf = _doc_tokens(spark, sf_dir)
    dl = tf.groupBy("doc_id").agg(F.expr("sum(tf)").alias("dl"))
    return dl.groupBy("dl").agg(F.expr("count(1)").alias("n_docs"))


Q_DOCLEN_HIST_SQL = f"""
WITH {_TOK_SQL},
  dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id)
SELECT dl, count(*)::BIGINT AS n_docs FROM dl GROUP BY dl
"""

# ------------------------------------------ descriptor-pipeline operators

def q_regex_match_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 `match` pre-filter (SpchtCore.py:645-683): regex keeps rows."""
    docs = _t(spark, sf_dir, "documents")
    return docs.filter(F.col("text").rlike("stream .* window|window .* stream")).select(
        "doc_id", "lang", "source"
    )


Q_REGEX_MATCH_SQL = """
SELECT doc_id, lang, source FROM documents
WHERE regexp_matches(text, 'stream .* window|window .* stream')
"""


def q_cut_replace_prepend_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6+P7 cut/replace + prepend/append (SpchtCore.py:685-721)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.concat(
            F.lit("x:"), F.regexp_replace("source", "^src", "s"), F.lit(":y")
        ).alias("mapped"),
    )


Q_CUT_REPLACE_SQL = """
SELECT doc_id, 'x:' || regexp_replace(source, '^src', 's') || ':y' AS mapped
FROM documents
"""


def q_mapping_translate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10 `mapping` with $inherit (SpchtCore.py:723-792): translate
    lang codes via a small map; unmatched pass through."""
    docs = _t(spark, sf_dir, "documents")
    m = F.create_map(
        F.lit("en"), F.lit("english"),
        F.lit("de"), F.lit("german"),
        F.lit("fr"), F.lit("french"),
    )
    return docs.select(
        "doc_id", F.coalesce(m[F.col("lang")], F.col("lang")).alias("lang_name")
    )


Q_MAPPING_SQL = """
SELECT doc_id,
       coalesce(CASE lang WHEN 'en' THEN 'english' WHEN 'de' THEN 'german'
                          WHEN 'fr' THEN 'french' END, lang) AS lang_name
FROM documents
"""


def q_alternatives_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 `alternatives` (SpchtCore.py:550-558): first non-empty field."""
    cust = _t(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.coalesce(F.nullif("c_mktsegment", F.lit("BUILDING")), F.col("c_name")).alias(
            "alt"
        ),
    )


Q_ALTERNATIVES_SQL = """
SELECT c_custkey, coalesce(nullif(c_mktsegment, 'BUILDING'), c_name) AS alt
FROM customer
"""


def q_insert_into_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 `insert_into` template fill (SpchtCore.py:898-939)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.format_string("(%s) %s", F.col("source"), F.col("lang")).alias("filled")
    )


Q_INSERT_INTO_SQL = """
SELECT doc_id, printf('(%s) %s', source, lang) AS filled FROM documents
"""


def q_if_numeric_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12 `if_` with numeric coercion (SpchtCore.py:941-1056): keep rows
    whose string-typed value parses >= threshold (try_cast semantics)."""
    ev = _t(spark, sf_dir, "events")
    return ev.filter(F.col("value").cast("double") >= 10.0).select(
        "event_id", "event_type", F.round("value", 4).alias("value")
    )


Q_IF_NUMERIC_SQL = """
SELECT event_id, event_type, round(value, 4) AS value FROM events
WHERE value >= 10.0
"""


def q_sha256_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P16 sha256 digest (local_tools.py:285-286) — the per-row invariant."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", F.sha2(F.col("text"), 256).alias("digest"))


Q_SHA256_SQL = "SELECT doc_id, sha256(text) AS digest FROM documents"


def q_joined_map_zip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 `joined_map` positional zip (SpchtCore.py:794-896):
    arrays_zip + explode of two parallel token slices."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("ts"))
    z = toks.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("ts", 1, 4).alias("f1"), F.slice("ts", 5, 4).alias("f2")
            )
        ).alias("z"),
    )
    return z.select("doc_id", F.col("z.f1").alias("f1"), F.col("z.f2").alias("f2"))


Q_JOINED_MAP_SQL = """
SELECT doc_id, u[1] AS f1, u[2] AS f2
FROM (
  SELECT doc_id,
         unnest(list_zip(ts[1:4], ts[5:8])) AS u
  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
)
"""

# ------------------------------------------------------- relational / agg

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style rollup (work-order metric rollup parity, A1)."""
    li = _t(spark, sf_dir, "lineitem")
    # expr strings: a Column op costs ~1-2 py4j round-trips of driver
    # wall; for the small bench queries plan construction was a third
    # of the measured time (see OPTIMIZATION_r06.md lever 11)
    return (
        li.where("l_shipdate <= '1998-09-02'")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr("round(sum(l_quantity), 2)").alias("sum_qty"),
            F.expr("round(sum(l_extendedprice), 2)").alias("sum_base_price"),
            F.expr(
                "round(sum(l_extendedprice * (1 - l_discount)), 2)"
            ).alias("sum_disc_price"),
            F.expr("round(avg(l_discount), 4)").alias("avg_disc"),
            F.expr("count(1)").alias("count_order"),
        )
    )


Q_PRICING_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*)::BIGINT AS count_order
FROM lineitem WHERE l_shipdate <= '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k (SURVEY §2.5): top-3 orders per customer."""
    o = _t(spark, sf_dir, "orders")
    return o.selectExpr(
        "o_custkey",
        "o_orderkey",
        "row_number() OVER (PARTITION BY o_custkey "
        "ORDER BY round(o_totalprice, 6) DESC, o_orderkey ASC) AS rnk",
        "round(o_totalprice, 2) AS price",
    ).where("rnk <= 3")


Q_TOPK_ORDERS_SQL = """
SELECT o_custkey, o_orderkey, rnk, price FROM (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY round(o_totalprice, 6) DESC, o_orderkey)::INTEGER AS rnk,
         round(o_totalprice, 2) AS price
  FROM orders)
WHERE rnk <= 3
"""


def q_broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast star join (SURVEY §2.3 J-gap): customer→nation→region."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), F.expr("c_nationkey = n_nationkey"))
        .join(F.broadcast(r), F.expr("n_regionkey = r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.expr("count(1)").alias("n_customers"),
            F.expr("round(sum(c_acctbal), 2)").alias("sum_acctbal"),
        )
    )


Q_DIM_JOIN_SQL = """
SELECT r_name, n_name, count(*)::BIGINT AS n_customers,
       round(sum(c_acctbal), 2) AS sum_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""

# --------------------------------------------------- training-data ops

def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash (training-data op): keep min doc_id."""
    docs = _t(spark, sf_dir, "documents")
    return docs.selectExpr("md5(text) AS text_md5", "doc_id").groupBy(
        "text_md5"
    ).agg(
        F.expr("min(doc_id)").alias("keep_doc"),
        F.expr("count(1)").alias("n_dups"),
    )


Q_EXACT_DEDUP_SQL = """
SELECT md5(text) AS text_md5, min(doc_id) AS keep_doc, count(*)::BIGINT AS n_dups
FROM documents GROUP BY md5(text)
"""


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (text analysis op)."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    return docs.select(
        "doc_id", F.size(toks).alias("n_tokens"), F.length("text").alias("len_chars")
    )


Q_TOKEN_COUNT_SQL = """
SELECT doc_id,
       len(list_filter(string_split(text, ' '), x -> x <> ''))::INTEGER AS n_tokens,
       length(text)::INTEGER AS len_chars
FROM documents
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword ratio + mean token length."""
    docs = _t(spark, sf_dir, "documents")
    return docs.selectExpr(
        "doc_id", "filter(split(text, ' '), x -> x != '') AS toks"
    ).selectExpr(
        "doc_id",
        "round(size(filter(toks, x -> x IN ('the', 'a'))) / size(toks), 4)"
        " AS stopword_ratio",
        "round(aggregate(toks, CAST(0 AS BIGINT), (acc, x) -> acc + length(x))"
        " / size(toks), 4) AS avg_token_len",
    )


Q_QUALITY_SQL = """
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents)
SELECT doc_id,
       round(len(list_filter(toks, x -> x IN ('the', 'a')))::DOUBLE / len(toks), 4)
         AS stopword_ratio,
       round(list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks), 4)
         AS avg_token_len
FROM t
"""


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over embeddings (similarity-search op)."""
    emb = _t(spark, sf_dir, "embeddings")
    to_d = "transform(embedding, x -> CAST(x AS DOUBLE))"
    qv = emb.where("vec_id < 3").selectExpr("vec_id AS q_id", f"{to_d} AS qe")
    cand = emb.selectExpr("vec_id", f"{to_d} AS ce")
    nrm = (
        lambda c: f"sqrt(aggregate(transform({c}, x -> x * x), "
        "CAST(0.0 AS DOUBLE), (a, x) -> a + x))"
    )
    scored = (
        qv.crossJoin(cand)
        .where("q_id != vec_id")
        .selectExpr(
            "*",
            "aggregate(zip_with(qe, ce, (x, y) -> x * y), "
            "CAST(0.0 AS DOUBLE), (a, x) -> a + x) / "
            f"({nrm('qe')} * {nrm('ce')}) AS cos",
        )
    )
    return scored.selectExpr(
        "q_id",
        "row_number() OVER (PARTITION BY q_id "
        "ORDER BY round(cos, 6) DESC, vec_id ASC) AS rnk",
        "vec_id",
        "round(cos, 4) AS cos_sim",
    ).where("rnk <= 5")


Q_COSINE_SQL = """
WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 3),
  scored AS (
    SELECT q.q_id, e.vec_id,
      list_sum(list_transform(list_zip(q.qe, e.embedding),
                              x -> x[1]::DOUBLE * x[2]::DOUBLE))
      / (sqrt(list_sum(list_transform(q.qe, x -> x::DOUBLE * x::DOUBLE)))
         * sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE))))
      AS cos
    FROM q CROSS JOIN embeddings e WHERE q.q_id <> e.vec_id),
  ranked AS (
    SELECT q_id, vec_id, round(cos, 4) AS cos_sim,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY round(cos, 6) DESC, vec_id)::INTEGER AS rnk
    FROM scored)
SELECT q_id, rnk, vec_id, cos_sim FROM ranked WHERE rnk <= 5
"""

# -------------------------------------------------- events / windows / sets

def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via lag + running
    sum — the batch shape of a session window (SURVEY §2.8 gap)."""
    ev = _t(spark, sf_dir, "events")
    w_u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w_u))
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = ev.withColumn("new_s", new_sess).withColumn(
        "session_seq", F.sum("new_s").over(w_u)
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(F.unix_timestamp("ts")).alias("session_start"),
        F.max(F.unix_timestamp("ts")).alias("session_end"),
    )


Q_SESSIONIZE_SQL = """
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800 THEN 1 ELSE 0 END
           AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING)::BIGINT AS session_seq
  FROM g)
SELECT user_id, session_seq,
       count(*)::BIGINT AS n_events,
       min(floor(epoch(ts)))::BIGINT AS session_start,
       max(floor(epoch(ts)))::BIGINT AS session_end
FROM s GROUP BY user_id, session_seq
"""


def q_tumbling_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows (batch twin of the streaming
    path in spcht_spark.streaming.incremental)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_timestamp("w.start").alias("window_start"), "event_type", "n"
        )
    )


Q_TUMBLING_SQL = """
SELECT epoch(time_bucket(INTERVAL 1 HOUR, ts))::BIGINT AS window_start,
       event_type, count(*)::BIGINT AS n
FROM events GROUP BY 1, 2
"""


def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (SURVEY §2.4 gap row)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


Q_DISTINCT_AGG_SQL = """
SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_users,
       round(sum(value), 2) AS sum_value
FROM events GROUP BY event_type
"""


def q_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops (SURVEY §2.6 gap): purchasers who never errored."""
    ev = _t(spark, sf_dir, "events")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    erroring = ev.filter(F.col("event_type") == "error").select("user_id").distinct()
    return buyers.exceptAll(erroring).union(
        buyers.intersect(erroring).withColumn("user_id", F.col("user_id") + 1000000)
    )


Q_INTERSECT_EXCEPT_SQL = """
WITH buyers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
     erroring AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
SELECT user_id FROM buyers EXCEPT SELECT user_id FROM erroring
UNION ALL
SELECT user_id + 1000000 FROM (SELECT user_id FROM buyers INTERSECT SELECT user_id FROM erroring)
"""


def q_antijoin_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 delete-matching-subjects parity (WorkOrder.py:875-942): the
    per-subject HTTP DELETE loop becomes ONE anti-join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


Q_ANTIJOIN_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""


def q_max_age_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I1 max_age delta-fetch parity (WorkOrder.py:702-707): timestamp
    watermark filter, pushed to the scan."""
    from spcht_spark.streaming.incremental import max_age_filter

    ev = _t(spark, sf_dir, "events")
    out = max_age_filter(ev, "ts", "2024-01-30 00:00:00", 7 * 24 * 60)
    return out.select("event_id", "event_type", F.unix_timestamp("ts").alias("ts_epoch"))


Q_MAX_AGE_SQL = """
SELECT event_id, event_type, floor(epoch(ts))::BIGINT AS ts_epoch FROM events
WHERE ts >= TIMESTAMP '2024-01-30 00:00:00' - INTERVAL 7 DAY
"""


def q_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets/rollup (SURVEY §2.4 gap): region → nation rollup."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    j = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return j.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("sum_bal"),
    )


Q_ROLLUP_SQL = """
SELECT r_name, n_name, count(*)::BIGINT AS n_customers,
       round(sum(c_acctbal), 2) AS sum_bal
FROM customer JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def q_cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I2 CDC parity: diff two order snapshots cut at different dates."""
    from spcht_spark.streaming.incremental import snapshot_diff

    o = _t(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderdate") < "1998-01-01")
    new = o.filter(F.col("o_orderdate") < "2000-01-01").withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 10 == 0, F.round(F.col("o_totalprice") * 1.1, 2))
        .otherwise(F.col("o_totalprice")),
    )
    return snapshot_diff(old, new, "o_orderkey", ["o_totalprice", "o_orderstatus"])


Q_CDC_SQL = """
WITH old AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
  WHERE o_orderdate < '1998-01-01'),
new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 10 = 0 THEN round(o_totalprice * 1.1, 2)
              ELSE o_totalprice END AS o_totalprice,
         o_orderstatus
  FROM orders WHERE o_orderdate < '2000-01-01')
SELECT coalesce(old.o_orderkey, new.o_orderkey) AS o_orderkey,
       CASE WHEN old.o_orderkey IS NULL THEN 'added'
            WHEN new.o_orderkey IS NULL THEN 'removed'
            WHEN old.o_totalprice <> new.o_totalprice
              OR old.o_orderstatus <> new.o_orderstatus THEN 'changed'
            ELSE 'unchanged' END AS change
FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
"""


# ----------------------------------------- dedup / text-analysis (module ops)

def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 4-gram Jaccard over co-shingled doc pairs (dedup op)."""
    from spcht_spark.functions.dedup import jaccard_pairs, ngram_shingles

    docs = _t(spark, sf_dir, "documents")
    sh = ngram_shingles(docs, "text", "doc_id", n=4)
    return (
        jaccard_pairs(sh)
        .filter(F.col("jaccard") >= 0.1)
        .select("a", "b", F.round("jaccard", 4).alias("jaccard"))
    )


Q_NGRAM_JACCARD_SQL = """
WITH t AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(toks) - 3, 0) + 1),
           i -> array_to_string(toks[i:i+3], ' ')))) AS shingle
  FROM t),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT s1.doc_id AS a, s2.doc_id AS b, count(*) AS i
  FROM sh s1 JOIN sh s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
  GROUP BY s1.doc_id, s2.doc_id)
SELECT a, b, round(i::DOUBLE / (ca.n + cb.n - i), 4) AS jaccard
FROM inter JOIN cnt ca ON inter.a = ca.doc_id JOIN cnt cb ON inter.b = cb.doc_id
WHERE i::DOUBLE / (ca.n + cb.n - i) >= 0.1
"""


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-share language ID (text-analysis op)."""
    from spcht_spark.functions.text import language_id

    docs = _t(spark, sf_dir, "documents")
    return language_id(docs, "text", "doc_id").select(
        F.col("id").alias("doc_id"), "lang_pred", "lang_score"
    )


def _langid_sql() -> str:
    from spcht_spark.functions.text import STOPWORDS

    selects = " UNION ALL ".join(
        f"SELECT doc_id, '{lang}' AS lang, "
        f"len(list_filter(toks, x -> lower(x) IN ({', '.join(repr(w) for w in words)})))::DOUBLE"
        f" / greatest(len(toks), 1) AS score FROM t"
        for lang, words in STOPWORDS.items()
    )
    return f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
  FROM documents),
scored AS ({selects}),
ranked AS (
  SELECT doc_id, lang, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
  FROM scored)
SELECT doc_id,
       CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_pred,
       round(score, 4) AS lang_score
FROM ranked WHERE rn = 1
"""


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting incl. BPE-ish subword splits (text-analysis op)."""
    from spcht_spark.functions.text import token_stats

    docs = _t(spark, sf_dir, "documents")
    return token_stats(docs, "text", "doc_id").select(
        F.col("id").alias("doc_id"), "n_tokens", "n_unique", "n_subwords", "n_chars"
    )


Q_TOKEN_STATS_SQL = """
WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
  FROM documents)
SELECT doc_id,
       len(toks)::INTEGER AS n_tokens,
       len(list_distinct(toks))::INTEGER AS n_unique,
       len(list_filter(string_split_regex(
             regexp_replace(regexp_replace(text, '([a-z])([A-Z])', '\\1 \\2', 'g'),
                            '([A-Za-z])([0-9])', '\\1 \\2', 'g'),
             '\\s+'), x -> x <> ''))::INTEGER AS n_subwords,
       length(text)::INTEGER AS n_chars
FROM t
"""


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition filters (top-n-gram char
    fraction for n=2,3; duplicate-5-gram fraction) — one in-row
    codegen'd projection, no per-doc shuffle."""
    from spcht_spark.functions.text import repetition_signals

    docs = _t(spark, sf_dir, "documents")
    return repetition_signals(docs, "text", "doc_id").select(
        F.col("id").alias("doc_id"),
        "top_2gram_frac", "top_3gram_frac", "dup_5gram_frac",
    )


def _repetition_sql() -> str:
    # mode n-gram per doc (ties -> lexicographically smallest), char
    # coverage = count * non-space chars of the gram / doc chars;
    # dup fraction = 1 - distinct/total 5-grams. toks[i:i+n-1] is the
    # DuckDB INCLUSIVE slice of n elements.
    def top_cte(n: int, tag: str) -> str:
        return f"""
g{tag} AS (
  SELECT doc_id, unnest(list_transform(
           range(1, greatest(len(toks) - {n - 1}, 0) + 1),
           i -> array_to_string(toks[i:i+{n - 1}], ' '))) AS gram
  FROM t),
c{tag} AS (SELECT doc_id, gram, count(*) AS c FROM g{tag} GROUP BY doc_id, gram),
r{tag} AS (
  SELECT doc_id,
         round(c * length(replace(gram, ' ', ''))::DOUBLE
               / greatest(n_chars, 1), 4) AS frac,
         row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram ASC) AS rn
  FROM c{tag} JOIN t USING (doc_id))"""

    return f"""
WITH t AS (
  SELECT doc_id, length(text) AS n_chars,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
  FROM documents),{top_cte(2, "2")},{top_cte(3, "3")},
d5 AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(toks) - 4, 0) + 1),
                        i -> array_to_string(toks[i:i+4], ' ')) AS grams
  FROM t)
SELECT t.doc_id,
       coalesce(r2.frac, 0.0) AS top_2gram_frac,
       coalesce(r3.frac, 0.0) AS top_3gram_frac,
       CASE WHEN len(d5.grams) > 0
            THEN round(1.0 - len(list_distinct(d5.grams))::DOUBLE / len(d5.grams), 4)
            ELSE 0.0 END AS dup_5gram_frac
FROM t
LEFT JOIN (SELECT doc_id, frac FROM r2 WHERE rn = 1) r2 USING (doc_id)
LEFT JOIN (SELECT doc_id, frac FROM r3 WHERE rn = 1) r3 USING (doc_id)
JOIN d5 ON t.doc_id = d5.doc_id
"""


def q_shared_ngram_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document n-gram duplication (RefinedWeb/CCNet signal):
    per doc, share of its distinct 5-grams held by >=1 other doc."""
    from spcht_spark.functions.text import shared_ngram_share

    docs = _t(spark, sf_dir, "documents")
    return shared_ngram_share(docs, "text", "doc_id", n=5).select(
        F.col("id").alias("doc_id"), "n_grams", "n_shared", "shared_frac"
    )


_SHARED_NGRAM_SQL = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(toks) - 4, 0) + 1),
           i -> array_to_string(toks[i:i+4], ' ')))) AS shingle
  FROM t),
cnt AS (SELECT shingle, count(*) AS holders FROM sh GROUP BY shingle)
SELECT doc_id,
       count(*)::BIGINT AS n_grams,
       sum(CASE WHEN holders > 1 THEN 1 ELSE 0 END)::BIGINT AS n_shared,
       round(sum(CASE WHEN holders > 1 THEN 1 ELSE 0 END)::DOUBLE
             / greatest(count(*), 1), 4) AS shared_frac
FROM sh JOIN cnt USING (shingle)
GROUP BY doc_id
"""


_BENCH_CUTOFF = 25  # doc_id < 25 plays the held-out benchmark set


def q_ngram_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3/PaLM protocol): flag corpus
    docs sharing any word 5-gram with the benchmark set. Benchmark
    shingles broadcast; the corpus is touched by one scan + one
    groupBy(id) — corpus grams never shuffle against corpus grams."""
    from spcht_spark.functions.text import ngram_contamination

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < _BENCH_CUTOFF)
    corpus = docs.filter(F.col("doc_id") >= _BENCH_CUTOFF)
    return ngram_contamination(corpus, bench, "text", "doc_id", n=5).select(
        F.col("id").alias("doc_id"), "n_grams", "n_contaminated", "contaminated"
    )


_CONTAMINATION_SQL = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(toks) - 4, 0) + 1),
           i -> array_to_string(toks[i:i+4], ' ')))) AS shingle
  FROM t),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < {_BENCH_CUTOFF})
SELECT s.doc_id,
       count(*)::BIGINT AS n_grams,
       sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_contaminated,
       (sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) > 0)
         AS contaminated
FROM sh s LEFT JOIN bench b USING (shingle)
WHERE s.doc_id >= {_BENCH_CUTOFF}
GROUP BY s.doc_id
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass (emails / IPv4 / phone-like runs masked with
    <PII:kind> tokens, per-kind counts) — one codegen'd projection of
    chained regexp_replace, no shuffle. The synthetic docs carry no
    PII, so the probe text is augmented deterministically from the
    table's own columns (same expression in the oracle)."""
    from spcht_spark.functions.text import scrub_pii

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" contact "), F.col("source"),
            F.lit("@example.com via 10.0."),
            (F.col("doc_id") % 256).cast("string"), F.lit(".7 or +1 555 000 "),
            (F.col("doc_id") % 10000).cast("string"),
        ).alias("text"),
    )
    return scrub_pii(docs, "text", "doc_id").select(
        F.col("id").alias("doc_id"),
        "text_scrubbed", "n_email", "n_ipv4", "n_phone",
    )


def _pii_scrub_sql() -> str:
    from spcht_spark.functions.text import PII_PATTERNS

    e, i4, ph = (p for _, p in PII_PATTERNS)
    return f"""
WITH t AS (
  SELECT doc_id,
         text || ' contact ' || source || '@example.com via 10.0.' ||
         (doc_id % 256)::VARCHAR || '.7 or +1 555 000 ' ||
         (doc_id % 10000)::VARCHAR AS text
  FROM documents)
SELECT doc_id,
  regexp_replace(regexp_replace(regexp_replace(
    text, '{e}', '<PII:email>', 'g'), '{i4}', '<PII:ipv4>', 'g'),
    '{ph}', '<PII:phone>', 'g') AS text_scrubbed,
  len(regexp_extract_all(text, '{e}'))::INTEGER AS n_email,
  len(regexp_extract_all(text, '{i4}'))::INTEGER AS n_ipv4,
  len(regexp_extract_all(text, '{ph}'))::INTEGER AS n_phone
FROM t
"""


_CHUNK_TOKENS = 64
_CHUNK_OVERLAP = 8


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context chunking (training/RAG): overlapping token windows per
    doc, stable (id, chunk_id) keys — in-row sequence+slice, one
    explode, no shuffle."""
    from spcht_spark.functions.text import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(
        docs, "text", "doc_id",
        chunk_tokens=_CHUNK_TOKENS, overlap=_CHUNK_OVERLAP,
    ).select(
        F.col("id").alias("doc_id"), "chunk_id", "n_tokens", "chunk_text"
    )


def _chunk_sql() -> str:
    stride = _CHUNK_TOKENS - _CHUNK_OVERLAP
    return f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
  FROM documents),
n AS (
  SELECT doc_id, toks, len(toks) AS n,
         CASE WHEN len(toks) <= 0 THEN 0
              ELSE greatest(1, 1 + ceil((len(toks) - {_CHUNK_TOKENS})::DOUBLE
                                        / {stride})::INTEGER)
         END AS n_chunks
  FROM t),
c AS (
  SELECT doc_id, unnest(range(0, n_chunks)) AS chunk_id, toks
  FROM n WHERE n_chunks > 0)
SELECT doc_id, chunk_id::INTEGER AS chunk_id,
       len(toks[chunk_id * {stride} + 1 : chunk_id * {stride} + {_CHUNK_TOKENS}])::INTEGER
         AS n_tokens,
       array_to_string(
         toks[chunk_id * {stride} + 1 : chunk_id * {stride} + {_CHUNK_TOKENS}], ' ')
         AS chunk_text
FROM c
"""


def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup clustering, oracled by its DECISIONS: the
    (id → component, keep) output must equal connected components over
    the exact-Jaccard≥t graph, which DuckDB computes independently via
    a recursive CTE. xxhash64 signatures stay un-reproducible in SQL —
    but the clustering they induce is checkable, and that is the output
    a user consumes. (Exactness of the hashes themselves stays gated in
    tests/test_functions.py against a numpy oracle.)"""
    from spcht_spark.functions.dedup import minhash_dedup

    docs = _t(spark, sf_dir, "documents")
    # 128 hashes / 64 bands (2 rows/band): a borderline J=0.5 pair is
    # missed with prob 0.75^64 ≈ 1e-8, so the recall-1.0 oracle match is
    # robust to testdata regeneration (at the default 64/16 a 0.5-pair
    # had ~35% miss probability — it held only for the fixed corpus).
    return minhash_dedup(
        docs, "text", "doc_id", n=4, num_hashes=128, bands=64,
        jaccard_threshold=0.5,
    ).select(
        F.col("id").alias("doc_id"), "component", "keep"
    )


def q_minhash_dedup_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE configuration of minhash_dedup (preset="web":
    max_bucket=64, max_shingle_df=256 — chain-linked mega-buckets, hot
    shingles out of candidate gen, Jaccard recounted exactly) against
    the SAME exact-Jaccard connected-components oracle: bounded must
    equal exact on oracle data, proving the bounds are pure scale
    protection, not a semantics change (round-2 VERDICT next-round #4)."""
    from spcht_spark.functions.dedup import minhash_dedup

    docs = _t(spark, sf_dir, "documents")
    return minhash_dedup(
        docs, "text", "doc_id", n=4, num_hashes=128, bands=64,
        jaccard_threshold=0.5, preset="web",
    ).select(F.col("id").alias("doc_id"), "component", "keep")


Q_MINHASH_DEDUP_SQL = """
WITH RECURSIVE
t AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(toks) - 3, 0) + 1),
           i -> array_to_string(toks[i:i+3], ' ')))) AS shingle
  FROM t),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT s1.doc_id AS a, s2.doc_id AS b, count(*) AS i
  FROM sh s1 JOIN sh s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
  GROUP BY 1, 2),
good AS (
  SELECT a, b FROM inter
  JOIN cnt ca ON inter.a = ca.doc_id JOIN cnt cb ON inter.b = cb.doc_id
  WHERE i::DOUBLE / (ca.n + cb.n - i) >= 0.5),
edges AS (SELECT a, b FROM good UNION SELECT b, a FROM good),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, reach.r FROM edges e JOIN reach ON e.a = reach.id)
SELECT id AS doc_id, min(r)::BIGINT AS component, (id = min(r)) AS keep
FROM reach GROUP BY id
"""


def q_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup clustering (the semantic twin of
    minhash_dedup), oracled by its DECISIONS like the other hash ops:
    (id → component, keep) must equal connected components over the
    exact cos ≥ 0.45 graph, which DuckDB computes independently from
    all pairs via a recursive CTE. The engine generates candidates
    through 24 sign-bit tables of 2 hyperplanes (miss prob for a
    borderline pair ≈ (1 − 0.64²)^24 ≈ 2e-6) and recomputes EXACT
    cosine per candidate — the LSH only gates candidate generation.
    At a production threshold (0.9+) fewer tables of more planes give
    the same recall with far smaller buckets; 0.45 matches this
    synthetic table's top pair range."""
    from spcht_spark.functions.dedup import embedding_dedup

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_dedup(
        emb, "embedding", "vec_id", threshold=0.45,
        n_planes=2, n_tables=24, dim=64,
    ).select(F.col("id").alias("vec_id"), "component", "keep")


Q_EMBEDDING_DEDUP_SQL = """
WITH RECURSIVE
good AS (
  SELECT a.vec_id AS a, b.vec_id AS b
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
                                x -> x[1]::DOUBLE * x[2]::DOUBLE))
        / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
           * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE))))
        >= 0.45),
edges AS (SELECT a, b FROM good UNION SELECT b, a FROM good),
reach(id, r) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT e.b, reach.r FROM edges e JOIN reach ON e.a = reach.id)
SELECT id AS vec_id, min(r)::BIGINT AS component, (id = min(r)) AS keep
FROM reach GROUP BY id
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash, md5-bit-lane variant: every fingerprint value is
    reproduced bit-for-bit by the DuckDB oracle (bit i = bit i%4 of hex
    digit i//4 of md5(term))."""
    from spcht_spark.functions.dedup import simhash

    docs = _t(spark, sf_dir, "documents")
    return simhash(docs, "text", "doc_id", hash_fn="md5").select(
        F.col("id").alias("doc_id"), "simhash"
    )


Q_SIMHASH_SQL = """
WITH t AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
           AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM t GROUP BY 1, 2),
h AS (SELECT doc_id, tf, md5(term) AS hx FROM tf),
c AS (
  SELECT doc_id,
         list_transform(range(0, 64), i -> CASE WHEN
             ((strpos('0123456789abcdef', substr(hx, (i // 4 + 1)::INT, 1)) - 1)
              >> (i % 4)::INT) & 1 = 1
           THEN tf ELSE -tf END) AS contrib
  FROM h),
sums AS (
  SELECT doc_id, i, sum(contrib[(i + 1)::INT]) AS s
  FROM c CROSS JOIN range(0, 63) bits(i) GROUP BY 1, 2)
SELECT doc_id,
       sum(CASE WHEN s > 0 THEN (1::BIGINT << i::INT) ELSE 0 END)::BIGINT AS simhash
FROM sums GROUP BY doc_id
"""


def q_embedding_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN, oracled by its DECISION: the returned
    neighbor set must equal the exact brute-force top-k, which the
    DuckDB oracle computes independently — i.e. the driver check IS a
    recall@k = 1.0 assertion (hashing is deterministic, so this is a
    stable property of the configuration, not a flaky sample; the
    recall-vs-tables tradeoff curve is gated in pytest)."""
    from spcht_spark.functions.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    # planes=4/tables=30: measured recall 1.0 with margin on this corpus
    # (synthetic near-random embeddings are the LSH worst case; real
    # clustered embeddings need far fewer tables for the same recall).
    out = lsh_topk(emb, q, k=8, n_planes=4, n_tables=30, dim=64).filter(
        F.col("q_id") != F.col("vec_id")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc(F.round("cos", 6)), F.asc("vec_id"))
    return (
        out.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("q_id", "rnk", "vec_id", F.round("cos", 4).alias("cos_sim"))
    )


def q_embedding_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN, oracled by its DECISION like the LSH entry: with
    nprobe == n_cells every inverted list is probed, so the returned
    set must equal the exact brute-force top-k the DuckDB oracle
    computes — the gate checks the cell assignment + probe + rescoring
    machinery end-to-end (recall@k = 1.0 by construction here; the
    nprobe < n_cells recall-vs-cost tradeoff is gated in pytest)."""
    from spcht_spark.functions.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    out = ivf_topk(
        emb, q, k=8, n_cells=8, nprobe=8, sample=512,
    ).filter(F.col("q_id") != F.col("vec_id"))
    w = Window.partitionBy("q_id").orderBy(F.desc(F.round("cos", 6)), F.asc("vec_id"))
    return (
        out.withColumn("rnk2", F.row_number().over(w))
        .filter(F.col("rnk2") <= 5)
        .select(
            "q_id", F.col("rnk2").alias("rnk"), "vec_id",
            F.round("cos", 4).alias("cos_sim"),
        )
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style fingerprint, md5 variant: the lexicographic min
    over rolling-window hashes is value-checked by the DuckDB oracle."""
    from spcht_spark.functions.text import fingerprint

    docs = _t(spark, sf_dir, "documents")
    return fingerprint(docs, "text", "doc_id", hash_fn="md5").select(
        F.col("id").alias("doc_id"), "fingerprint"
    )


Q_DOC_FINGERPRINT_SQL = """
WITH t AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
  FROM documents),
w AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(toks) - 3, 1) + 1),
                               i -> md5(array_to_string(toks[i:i+3], ' ')))) AS h
  FROM t)
SELECT doc_id, min(h) AS fingerprint FROM w GROUP BY doc_id
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing under the driver oracle: documents become
    opaque binary payloads with typed metadata, run through the
    Arrow-batched mapInPandas featurizer (functions/multimodal.py). The
    featurizer itself is the honest container-limitation stub, but the
    plumbing invariants ARE checked hard: the payload sha256 must
    survive the binary Arrow round-trip bit-exactly, byte counts must
    match, and the feature batch shape must hold for every row."""
    from spcht_spark.functions.multimodal import decode_and_featurize

    docs = _t(spark, sf_dir, "documents")
    kinds = F.array(F.lit("image"), F.lit("audio"), F.lit("video"))
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(kinds, (F.col("doc_id") % 3 + 1).cast("int")).alias("media_type"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    feats = decode_and_featurize(media, dim=16)
    return feats.select(
        F.col("media_id").alias("doc_id"),
        "media_type",
        "payload_sha256",
        "n_bytes",
        F.size("feature").alias("feat_dim"),
    )


Q_MULTIMODAL_SQL = """
SELECT doc_id,
       (['image', 'audio', 'video'])[(doc_id % 3 + 1)::INT] AS media_type,
       sha256(text) AS payload_sha256,
       octet_length(encode(text))::BIGINT AS n_bytes,
       16 AS feat_dim
FROM documents
"""


# ------------------------------------------- round-4 request surface

_HL_SNIPPETS = 2


def q_index_hl_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-fragment highlighting (Solr ``hl.snippets=N``): up to N
    fragments per hit, the i-th anchored at the first occurrence of the
    i-th distinct matching term (anchors by position) — Lucene's
    distinct-term fragment heuristic in SQL-portable form. Fragments
    explode to (hit, frag) rows; docs containing no query term drop,
    like Solr omitting the highlight entry."""
    from spcht_spark.index.highlight import highlight_fragments
    from spcht_spark.index.query import exact_topk

    idx = _persisted_index(spark, sf_dir)
    qs = [(qid, ts, DOC_K + 5) for qid, ts in DOC_QUERIES]
    hits = _rerank_rounded(
        exact_topk(spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats, qs)
    ).drop("score")
    docs = _t(spark, sf_dir, "documents")
    out = highlight_fragments(
        hits, docs, DOC_QUERIES, window=_HL_WINDOW,
        max_snippets=_HL_SNIPPETS, content_col="text",
    )
    return out.select(
        "query_id", "rank", "doc_id",
        F.posexplode("snippets").alias("frag0", "snippet"),
    ).select(
        "query_id", "rank", "doc_id",
        (F.col("frag0") + 1).cast("int").alias("frag"), "snippet",
    )


def _hl_snippets_sql() -> str:
    vals = ", ".join(f"('{qid}', '{t}')" for qid, ts in DOC_QUERIES for t in ts)
    w = _HL_WINDOW
    branches = []
    for i, (qid, ts) in enumerate(DOC_QUERIES):
        terms = sorted(set(ts))
        termvals = ", ".join(f"('{t}')" for t in terms)
        termlits = ", ".join(f"'{t}'" for t in terms)
        branches.append(f"""
  a{i} AS (
    SELECT r.query_id, r.rank, r.doc_id, tks.tk, t.t AS term,
           nullif(list_position(tks.tk, t.t), 0) AS p
    FROM ranked r JOIN tks ON r.doc_id = tks.doc_id
         CROSS JOIN (VALUES {termvals}) AS t(t)
    WHERE r.query_id = '{qid}' AND r.rank <= {DOC_K}),
  f{i} AS (
    SELECT query_id, rank, doc_id, tk, p,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY p, term)::INTEGER AS frag
    FROM a{i} WHERE p IS NOT NULL),
  s{i} AS (
    SELECT query_id, rank, doc_id, frag,
           array_to_string(list_transform(
             tk[greatest(1, p - {w}):greatest(1, p - {w}) + {2 * w}],
             x -> CASE WHEN x IN ({termlits})
                       THEN '<em>' || x || '</em>' ELSE x END), ' ') AS snippet
    FROM f{i} WHERE frag <= {_HL_SNIPPETS})""")
    union = " UNION ALL ".join(
        f"SELECT * FROM s{i}" for i in range(len(DOC_QUERIES))
    )
    return f"""
WITH {_TOK_SQL},
  dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
  stats AS (SELECT count(*)::BIGINT AS n_docs,
                   (sum(dl)::DOUBLE / count(*)) AS avgdl FROM dl),
  dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
  q(query_id, term) AS (VALUES {vals}),
  scored AS (
    SELECT q.query_id, tf.doc_id,
           sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                * (tf.tf * 2.2)
                / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl))) ) AS raw
    FROM q JOIN dft USING (term) JOIN tf USING (term)
         JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
    GROUP BY q.query_id, tf.doc_id),
  ranked AS (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(raw, 6) DESC, doc_id)::INTEGER AS rank
    FROM scored),
  tks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
  {",".join(branches)}
{union}
"""

_TV_DOC_IDS = [5, 123, 250]


def q_index_term_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr TermVectorComponent (tv=true): (term, tf, df, tf-idf) for
    each doc of a page — re-analyzed from the doc store with the
    index's tokenizer (k docs, O(k·doclen) regardless of corpus size;
    the page frame broadcasts into the dictionary probe)."""
    from spcht_spark.index.vectors import term_vectors

    idx = _persisted_index(spark, sf_dir)
    return term_vectors(
        spark, _index_corpus(spark, sf_dir), idx.dictionary,
        _TV_DOC_IDS, tokenizer="ws",
    ).select(
        "doc_id", "term",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        F.round("tf_idf", 6).alias("tf_idf"),
    )


def _term_vectors_sql() -> str:
    ids = ", ".join(str(i) for i in _TV_DOC_IDS)
    return f"""
WITH {_TOK_SQL},
  dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term)
SELECT tf.doc_id, tf.term, tf.tf::BIGINT AS tf, dft.df AS df,
       round(tf.tf::DOUBLE / dft.df, 6) AS tf_idf
FROM tf JOIN dft USING (term) WHERE tf.doc_id IN ({ids})
"""


_COLLATE_QUERIES: list[tuple[str, list[str]]] = [
    ("cl_ok", ["customer"]),          # correctly spelled: kept verbatim
    ("cl_fix2", ["spakr", "jion"]),   # both corrected, hits = AND count
    ("cl_none", ["zzzzqqqqzzzz"]),    # no suggestion within distance 2
]


def q_index_collate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr spellcheck.collate + collateExtendedResults: queries with
    misspelled terms rewritten from the index's own dictionary (top
    suggestion by distance asc, df desc, term asc) and the collation's
    conjunctive hit count — one distributed pass for all collations."""
    from spcht_spark.index.suggest import spellcheck_collate

    idx = _persisted_index(spark, sf_dir)
    return spellcheck_collate(
        spark, idx.dictionary, idx.blocks, _COLLATE_QUERIES
    )


def _collate_sql() -> str:
    vals = ", ".join(
        f"('{qid}', {i + 1}, '{t}')"
        for qid, ts in _COLLATE_QUERIES
        for i, t in enumerate(ts)
    )
    return f"""
WITH {_TOK_SQL},
  dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
  q(query_id, pos, term) AS (VALUES {vals}),
  collated AS (
    SELECT q.query_id, q.pos,
           CASE WHEN EXISTS (SELECT 1 FROM dft WHERE dft.term = q.term)
                THEN q.term
                ELSE coalesce(
                  (SELECT d.term FROM dft d
                   WHERE levenshtein(d.term, q.term) BETWEEN 1 AND 2
                   ORDER BY levenshtein(d.term, q.term), d.df DESC, d.term
                   LIMIT 1),
                  q.term)
           END AS term
    FROM q),
  coll AS (SELECT query_id, string_agg(term, ' ' ORDER BY pos) AS collation
           FROM collated GROUP BY query_id),
  cd AS (SELECT DISTINCT query_id, term FROM collated),
  need AS (SELECT query_id, count(*)::BIGINT AS n FROM cd GROUP BY query_id),
  matched AS (
    SELECT cd.query_id, tf.doc_id, count(*)::BIGINT AS nm
    FROM cd JOIN tf USING (term) GROUP BY cd.query_id, tf.doc_id),
  hits AS (
    SELECT m.query_id, count(*)::BIGINT AS hits
    FROM matched m JOIN need USING (query_id)
    WHERE m.nm = need.n GROUP BY m.query_id)
SELECT coll.query_id, coll.collation,
       coalesce(hits.hits, 0)::BIGINT AS hits
FROM coll LEFT JOIN hits USING (query_id)
"""


_FUNCSORT_SRC = "div(n_chars, 100)"


def q_index_funcsort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr function-query sort (`sort=div(n_chars,100) desc`): docs
    matching each query ordered by an arithmetic function of their
    attributes — the function-query string parses once into a Catalyst
    Column (whole-stage codegen) and, for the oracle, into the
    equivalent ANSI SQL."""
    from spcht_spark.index.funcquery import function_sort_topk

    idx = _persisted_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    return function_sort_topk(
        spark, idx.blocks, DOC_QUERIES,
        docs.select("doc_id", "n_chars"), _FUNCSORT_SRC, k=DOC_K,
    )


def _funcsort_sql() -> str:
    from spcht_spark.index.funcquery import func_sql, parse_func

    expr = func_sql(parse_func(_FUNCSORT_SRC))
    vals = ", ".join(f"('{qid}', '{t}')" for qid, ts in DOC_QUERIES for t in ts)
    return f"""
WITH {_TOK_SQL},
  q(query_id, term) AS (VALUES {vals}),
  m AS (SELECT DISTINCT q.query_id, tf.doc_id FROM q JOIN tf USING (term)),
  j AS (SELECT m.query_id, m.doc_id, round({expr}, 6) AS sv
        FROM m JOIN documents d USING (doc_id)),
  ranked AS (
    SELECT query_id, doc_id, round(sv, 4) AS sort_v,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sv DESC, doc_id)::INTEGER AS rank
    FROM j)
SELECT query_id, rank, doc_id, sort_v FROM ranked WHERE rank <= {DOC_K}
"""


def q_index_stats_facet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr stats.facet: the stats component broken down per value of
    a second field — groupBy key widens to (query, bucket), still one
    partial-agg pass."""
    from spcht_spark.index.facets import field_stats

    idx = _persisted_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    return field_stats(
        spark, idx.blocks, DOC_QUERIES,
        docs.select("doc_id", "n_chars", "lang"), "n_chars", by="lang",
    )


def _stats_facet_sql() -> str:
    vals = ", ".join(f"('{qid}', '{t}')" for qid, ts in DOC_QUERIES for t in ts)
    return f"""
WITH {_TOK_SQL},
  q(query_id, term) AS (VALUES {vals}),
  m AS (SELECT DISTINCT q.query_id, tf.doc_id FROM q JOIN tf USING (term)),
  j AS (SELECT m.query_id, d.lang AS bucket, d.n_chars
        FROM m JOIN documents d USING (doc_id))
SELECT query_id, bucket, count(*)::BIGINT AS n,
       min(n_chars)::BIGINT AS min_v, max(n_chars)::BIGINT AS max_v,
       sum(n_chars)::BIGINT AS sum_v,
       (sum(n_chars)::DOUBLE / count(*)) AS avg_v
FROM j GROUP BY query_id, bucket
"""


_PARENT_K = 5


def q_index_parent_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-join parent query ({!parent}childQuery, score=max): rank
    SOURCES by the best BM25 score among their matching docs, with the
    matching-children count — the child→parent hop is a narrow
    candidates⋈attrs join + map-side-combining max/count groupBy, no
    Lucene co-location constraint."""
    from spcht_spark.index.join import parent_topk
    from spcht_spark.index.query import exact_topk

    idx = _persisted_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    qs = [(qid, ts, 1_000_000) for qid, ts in DOC_QUERIES]
    scored = exact_topk(
        spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats, qs
    ).select("query_id", "doc_id", "score")
    out = parent_topk(
        scored, docs.select("doc_id", "source"), "source",
        {qid: _PARENT_K for qid, _ in DOC_QUERIES},
    )
    return out.select(
        "query_id", "rank", "parent", F.round("score", 4).alias("score"),
        "n_children",
    )


def _parent_join_sql() -> str:
    vals = ", ".join(f"('{qid}', '{t}')" for qid, ts in DOC_QUERIES for t in ts)
    return f"""
WITH {_TOK_SQL},
  dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
  stats AS (SELECT count(*)::BIGINT AS n_docs,
                   (sum(dl)::DOUBLE / count(*)) AS avgdl FROM dl),
  dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
  q(query_id, term) AS (VALUES {vals}),
  scored AS (
    SELECT q.query_id, tf.doc_id,
           sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                * (tf.tf * 2.2)
                / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl))) ) AS raw
    FROM q JOIN dft USING (term) JOIN tf USING (term)
         JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
    GROUP BY q.query_id, tf.doc_id),
  per_parent AS (
    SELECT s.query_id, d.source AS parent,
           max(s.raw) AS raw, count(*)::BIGINT AS n_children
    FROM scored s JOIN documents d USING (doc_id)
    GROUP BY s.query_id, d.source),
  ranked AS (
    SELECT query_id, parent, round(raw, 4) AS score, n_children,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(raw, 6) DESC, parent)::INTEGER AS rank
    FROM per_parent)
SELECT query_id, rank, parent, score, n_children
FROM ranked WHERE rank <= {_PARENT_K}
"""


_PERC_QUERIES: list[tuple[str, str]] = [
    ("p_sj", "spark AND join"),
    ("p_route", "(window OR stream) AND -hash"),
    ("p_nospark", "NOT spark"),                      # pure-negative: legal here
    ("p_big_en", "lang:en AND n_chars:[900 TO *]"),  # attr-only routing
    ("p_req", "+join batch"),
]


def q_index_percolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percolator (Elasticsearch percolate; the inverse of search):
    standing boolean queries evaluated per document — one codegen'd
    projection over the doc scan, no index, no shuffle; pure-negative
    and attr-only queries are legal because the doc is in hand."""
    from spcht_spark.index.percolate import percolate

    docs = _t(spark, sf_dir, "documents")
    return percolate(docs, _PERC_QUERIES, text_col="text", id_col="doc_id")


def _percolate_sql() -> str:
    from spcht_spark.index.boolean import ast_to_duckdb, parse_query

    arms = "\nUNION ALL\n".join(
        f"SELECT doc_id, '{qid}' AS query_id FROM t WHERE "
        + ast_to_duckdb(
            parse_query(qs, require_positive=False),
            terms_expr="terms", attr_prefix="t.",
        )
        for qid, qs in _PERC_QUERIES
    )
    return f"""
WITH t AS (
  SELECT doc_id, lang, n_chars,
         list_distinct(list_filter(
           string_split_regex(text, '\\s+'), x -> x <> '')) AS terms
  FROM documents)
{arms}
"""


_CHILD_K = 12
_CHILD_PARENTS = 3


def q_index_child_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-join child query ({!child of=...}parentQuery, Lucene
    ToChildBlockJoinQuery): expand the top parent entities of the
    parent query to their member docs, each child carrying its
    parent's score — a broadcast join of the k-sized ranked-parents
    frame against the attrs table, salted two-stage child ranking."""
    from spcht_spark.index.join import child_topk
    from spcht_spark.index.query import exact_topk

    idx = _persisted_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    qs = [(qid, ts, 1_000_000) for qid, ts in DOC_QUERIES]
    scored = exact_topk(
        spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats, qs
    ).select("query_id", "doc_id", "score")
    out = child_topk(
        scored, docs.select("doc_id", "source"), "source",
        {qid: _CHILD_K for qid, _ in DOC_QUERIES},
        parent_ks={qid: _CHILD_PARENTS for qid, _ in DOC_QUERIES},
    )
    return out.select(
        "query_id", "rank", "doc_id", "parent",
        F.round("score", 4).alias("score"),
    )


def _child_join_sql() -> str:
    vals = ", ".join(f"('{qid}', '{t}')" for qid, ts in DOC_QUERIES for t in ts)
    return f"""
WITH {_TOK_SQL},
  dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
  stats AS (SELECT count(*)::BIGINT AS n_docs,
                   (sum(dl)::DOUBLE / count(*)) AS avgdl FROM dl),
  dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
  q(query_id, term) AS (VALUES {vals}),
  scored AS (
    SELECT q.query_id, tf.doc_id,
           sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                * (tf.tf * 2.2)
                / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl))) ) AS raw
    FROM q JOIN dft USING (term) JOIN tf USING (term)
         JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
    GROUP BY q.query_id, tf.doc_id),
  per_parent AS (
    SELECT s.query_id, d.source AS parent, max(s.raw) AS raw
    FROM scored s JOIN documents d USING (doc_id)
    GROUP BY s.query_id, d.source),
  top_parents AS (
    SELECT query_id, parent, raw,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(raw, 6) DESC, parent)::INTEGER AS prank
    FROM per_parent),
  kids AS (
    SELECT p.query_id, d.doc_id, p.parent, p.raw,
           row_number() OVER (PARTITION BY p.query_id
                              ORDER BY round(p.raw, 6) DESC, p.parent,
                                       d.doc_id)::INTEGER AS rank
    FROM top_parents p JOIN documents d ON d.source = p.parent
    WHERE p.prank <= {_CHILD_PARENTS})
SELECT query_id, rank, doc_id, parent, round(raw, 4) AS score
FROM kids WHERE rank <= {_CHILD_K}
"""


_DELETE_Q = "dup"  # delete every doc containing this term
_DELETE_PROBES: list[tuple[str, list[str]]] = [
    ("del_spark_join", ["spark", "join"]),
    ("del_hot", ["join", "hash"]),
]


def q_index_delete_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr delete-by-query: resolve a boolean q to its matching doc
    set (never collected — a (doc_id) frame flows into the delta
    join), purge through the same update path as id-deletes, then
    rank probe queries over the shrunken index — corpus stats, dfs,
    doclens, and touched blocks all rebuilt (oracle recomputes BM25
    from scratch over the surviving docs)."""
    from spcht_spark.index.query import exact_topk
    from spcht_spark.index.update import delete_by_query

    idx = _persisted_index(spark, sf_dir)
    idx2 = delete_by_query(spark, idx, _DELETE_Q)
    qs = [(qid, ts, DOC_K) for qid, ts in _DELETE_PROBES]
    out = exact_topk(
        spark, idx2.blocks, idx2.doclens, idx2.dictionary, idx2.stats, qs
    )
    return _rerank_rounded(out)


def _delete_query_sql() -> str:
    vals = ", ".join(
        f"('{qid}', '{t}')" for qid, ts in _DELETE_PROBES for t in ts
    )
    return f"""
WITH tok0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents),
  gone AS (SELECT DISTINCT doc_id FROM tok0 WHERE term = '{_DELETE_Q}'),
  tf AS (SELECT doc_id, term, count(*) AS tf
         FROM tok0 WHERE term <> ''
           AND doc_id NOT IN (SELECT doc_id FROM gone)
         GROUP BY doc_id, term),
  dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
  stats AS (SELECT count(*)::BIGINT AS n_docs,
                   (sum(dl)::DOUBLE / count(*)) AS avgdl FROM dl),
  dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
  q(query_id, term) AS (VALUES {vals}),
  scored AS (
    SELECT q.query_id, tf.doc_id,
           sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                * (tf.tf * 2.2)
                / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl))) ) AS raw
    FROM q JOIN dft USING (term) JOIN tf USING (term)
         JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
    GROUP BY q.query_id, tf.doc_id),
  ranked AS (
    SELECT query_id, doc_id, round(raw, 4) AS score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(raw, 6) DESC, doc_id)::INTEGER AS rank
    FROM scored)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DOC_K}
"""


_RTGET_IDS = [7, 3, 499, 123456, 42]  # one absent id: Solr omits it


def q_index_rtget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr /get (RealTimeGetHandler): stored fields for explicit ids,
    no parsing, no scoring — an isin filter pushed to the doc-store
    parquet scan plus fl column pruning; absent ids omitted."""
    from spcht_spark.index.search import realtime_get

    docs = _t(spark, sf_dir, "documents")
    return realtime_get(docs, _RTGET_IDS, fl=["source", "lang", "n_chars"])


def _rtget_sql() -> str:
    ids = ", ".join(str(i) for i in _RTGET_IDS)
    return f"""
SELECT doc_id, source, lang, n_chars FROM documents WHERE doc_id IN ({ids})
"""


_EXPORT_QUERIES: list[tuple[str, list[str]]] = [
    ("ex_dup", ["dup"]),
    ("ex_spark", ["spark"]),
]


def q_index_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr /export handler: EVERY matching doc with the requested
    stored fields, sorted by a docValues field — a pure distributed
    range-partitioned sort, no per-query single-reducer window (the
    bulk-egress path; ranks are the reader's job)."""
    from spcht_spark.index.cursor import export_matches

    idx = _persisted_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    return export_matches(
        spark, idx.blocks, _EXPORT_QUERIES,
        docs.select("doc_id", "n_chars", "lang"), "n_chars", fl=["lang"],
    )


def _export_sql() -> str:
    vals = ", ".join(
        f"('{qid}', '{t}')" for qid, ts in _EXPORT_QUERIES for t in ts
    )
    return f"""
WITH {_TOK_SQL},
  q(query_id, term) AS (VALUES {vals}),
  m AS (SELECT DISTINCT q.query_id, tf.doc_id FROM q JOIN tf USING (term))
SELECT m.query_id, m.doc_id, d.n_chars AS sort_value, d.lang
FROM m JOIN documents d USING (doc_id)
"""


_SAMPLE_RATES = {"en": 0.5, "de": 0.25}
_SAMPLE_SALT = "r4"


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible per-source corpus sampling (training-data op):
    content-keyed md5 hash draw < per-stratum rate — independent of
    partitioning/cluster size/execution order, one scan, no RNG state.
    The md5 draw has a bit-identical DuckDB twin, so the sample is
    value-checked row-for-row, not just by count."""
    from spcht_spark.functions.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(
        docs.select("doc_id", "lang"), "doc_id", "lang",
        _SAMPLE_RATES, salt=_SAMPLE_SALT, default_rate=0.1,
    )


def _stratified_sample_sql() -> str:
    whens = " ".join(
        f"WHEN lang = '{k}' THEN {v}" for k, v in sorted(_SAMPLE_RATES.items())
    )
    return f"""
SELECT doc_id, lang FROM documents
WHERE (('0x' || substr(md5(doc_id::VARCHAR || '{_SAMPLE_SALT}'), 1, 8))::BIGINT
       / 4294967296.0)
      < (CASE {whens} ELSE 0.1 END)
"""


_QUANTILE_QS = [0.25, 0.5, 0.9]


def q_doclen_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source doc-length quantiles (curation gates on
    per-source length distributions): Spark's exact interpolated
    ``percentile`` == SQL ``quantile_cont``, one partial-agg shuffle
    on the stratum key."""
    from spcht_spark.functions.sampling import stratum_quantiles

    docs = _t(spark, sf_dir, "documents")
    out = stratum_quantiles(docs, "lang", "n_chars", _QUANTILE_QS)
    return out.select("stratum", "q", F.round("v", 6).alias("v"))


def _doclen_quantiles_sql() -> str:
    # quantile_cont requires a CONSTANT q — one aggregate per q, unioned
    parts = [
        f"""SELECT lang AS stratum, {q} AS q,
       round(quantile_cont(n_chars, {q}), 6) AS v
FROM documents GROUP BY lang"""
        for q in _QUANTILE_QS
    ]
    return "\nUNION ALL\n".join(parts)


# ----------------------------------------------------------- registration

_ALL_QUERIES = {
    "bm25_topk": q_bm25_topk,
    "index_bm25_topk": q_index_bm25_topk,
    "index_wand_topk": q_index_wand_topk,
    "index_filtered_topk": q_index_filtered_topk,
    "index_incremental_topk": q_index_incremental_topk,
    "index_phrase_topk": q_index_phrase_topk,
    "index_phrase_slop": q_index_phrase_slop,
    "index_facets": q_index_facets,
    "index_facet_topn": q_index_facet_topn,
    "index_boosted_topk": q_index_boosted_topk,
    "index_boolean_topk": q_index_boolean_topk,
    "index_qop_and": q_index_qop_and,
    "index_cursor_pages": q_index_cursor_pages,
    "index_mlt": q_index_mlt,
    "index_mlt_terms": q_index_mlt_terms,
    "index_highlight": q_index_highlight,
    "index_fielded_topk": q_index_fielded_topk,
    "index_dismax_topk": q_index_dismax_topk,
    "index_minmatch_topk": q_index_minmatch_topk,
    "index_prefix_topk": q_index_prefix_topk,
    "index_wildcard_topk": q_index_wildcard_topk,
    "index_fuzzy_topk": q_index_fuzzy_topk,
    "index_analyzed_topk": q_index_analyzed_topk,
    "index_collapse": q_index_collapse,
    "index_group_topk": q_index_group_topk,
    "index_pivot_facets": q_index_pivot_facets,
    "index_pivot3": q_index_pivot3,
    "index_group_ngroups": q_index_group_ngroups,
    "index_group_sort": q_index_group_sort,
    "index_interval_facets": q_index_interval_facets,
    "index_range_facets": q_index_range_facets,
    "index_stats_string": q_index_stats_string,
    "index_facet_query": q_index_facet_query,
    "index_stats_field": q_index_stats_field,
    "index_suggest": q_index_suggest,
    "index_complete": q_index_complete,
    "index_search_request": q_index_search_request,
    "index_attr_query": q_index_attr_query,
    "index_term_boosts": q_index_term_boosts,
    "index_explain": q_index_explain,
    "index_terms_component": q_index_terms_component,
    "index_rerank_topk": q_index_rerank_topk,
    "index_elevate": q_index_elevate,
    "index_join_filter": q_index_join_filter,
    "index_synonym_topk": q_index_synonym_topk,
    "index_subfacets": q_index_subfacets,
    "index_term_vectors": q_index_term_vectors,
    "index_hl_snippets": q_index_hl_snippets,
    "index_collate": q_index_collate,
    "index_funcsort": q_index_funcsort,
    "index_stats_facet": q_index_stats_facet,
    "index_parent_join": q_index_parent_join,
    "index_child_join": q_index_child_join,
    "index_delete_query": q_index_delete_query,
    "index_rtget": q_index_rtget,
    "index_percolate": q_index_percolate,
    "index_export": q_index_export,
    "term_stats": q_term_stats,
    "doclen_hist": q_doclen_hist,
    "regex_match_filter": q_regex_match_filter,
    "cut_replace_prepend_append": q_cut_replace_prepend_append,
    "mapping_translate": q_mapping_translate,
    "alternatives_coalesce": q_alternatives_coalesce,
    "insert_into_format": q_insert_into_format,
    "if_numeric_gate": q_if_numeric_gate,
    "sha256_digest": q_sha256_digest,
    "joined_map_zip": q_joined_map_zip,
    "pricing_summary": q_pricing_summary,
    "topk_orders_per_customer": q_topk_orders_per_customer,
    "broadcast_dim_join": q_broadcast_dim_join,
    "exact_dedup": q_exact_dedup,
    "token_count": q_token_count,
    "quality_score": q_quality_score,
    "cosine_topk": q_cosine_topk,
    "sessionize_events": q_sessionize_events,
    "tumbling_window_counts": q_tumbling_window_counts,
    "distinct_agg": q_distinct_agg,
    "intersect_except": q_intersect_except,
    "antijoin_purge": q_antijoin_purge,
    "max_age_delta": q_max_age_delta,
    "rollup_agg": q_rollup_agg,
    "cdc_snapshot_diff": q_cdc_snapshot_diff,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "language_id": q_language_id,
    "token_stats": q_token_stats,
    "repetition_signals": q_repetition_signals,
    "shared_ngram_share": q_shared_ngram_share,
    "ngram_contamination": q_ngram_contamination,
    "pii_scrub": q_pii_scrub,
    "chunk_documents": q_chunk_documents,
    "minhash_dedup": q_minhash_dedup,
    "minhash_dedup_bounded": q_minhash_dedup_bounded,
    "embedding_dedup": q_embedding_dedup,
    "simhash": q_simhash,
    "embedding_ann_lsh": q_embedding_ann_lsh,
    "embedding_ann_ivf": q_embedding_ann_ivf,
    "doc_fingerprint": q_doc_fingerprint,
    "multimodal_features": q_multimodal_features,
    "stratified_sample": q_stratified_sample,
    "doclen_quantiles_strata": q_doclen_quantiles,
}

# The driver's correctness gate checks AT MOST 50 queries, in registry
# order — with >50 registered, the tail silently drops off the hard
# gate (round-3 VERDICT "What's wrong" #4: the 5 hash ops fell out the
# round their code changed). So the driver set is PINNED: exactly 50
# names, ordered first; everything else is OVERFLOW, hard-gated by
# tests/test_driver_overflow.py running the same oracle compare. This
# round the previously-dropped hash ops rotate INTO the driver set and
# six pytest-parity-pinned pure-Catalyst ops rotate out to overflow.
# Round 4 added 9 entries (tv/collate/funcsort/stats.facet/parent-join/
# export/search-request + 2 sampling ops) and rotated 9 unchanged ops to
# overflow (ADVICE r4: the old comment miscounted 6/6). Round 5 adds 6
# PINNED entries (phrase-slop, wildcard, 3-level pivot, group.ngroups,
# repetition signals, shared-ngram share), rotating out explain/terms/
# mlt/collapse plus the two round-4 sampling ops (modules unchanged,
# still hard-gated in overflow), and 11 new OVERFLOW-only entries
# (qop-AND, child-join, delete-by-query, rtget, contamination,
# pii-scrub, group-sort, interval-facets, complete, percolate,
# mlt-terms) — registry 97 = 50 pinned + 47 overflow.
DRIVER_GATE_CAP = 50
OVERFLOW_QUERY_NAMES = [
    "index_stats_string",
    "index_range_facets",
    "chunk_documents",
    "index_mlt_terms",
    "index_percolate",
    "index_complete",
    "index_group_sort",
    "index_interval_facets",
    "ngram_contamination",
    "pii_scrub",
    "index_child_join",
    "index_delete_query",
    "index_rtget",
    "index_qop_and",
    "stratified_sample",
    "doclen_quantiles_strata",
    "index_explain",
    "index_terms_component",
    "index_mlt",
    "index_collapse",
    "term_stats",
    "doclen_hist",
    "regex_match_filter",
    "cut_replace_prepend_append",
    "alternatives_coalesce",
    "if_numeric_gate",
    "embedding_ann_ivf",
    "index_analyzed_topk",
    "mapping_translate",
    "insert_into_format",
    "sha256_digest",
    "intersect_except",
    "distinct_agg",
    "token_count",
    "language_id",
    "quality_score",
    "joined_map_zip",
    "broadcast_dim_join",
    "rollup_agg",
    "antijoin_purge",
    "tumbling_window_counts",
    "sessionize_events",
    "cdc_snapshot_diff",
    "max_age_delta",
    "ngram_jaccard_pairs",
    "token_stats",
    "minhash_dedup",
    "doc_fingerprint",
    "simhash",
    "embedding_ann_lsh",
]
DRIVER_QUERY_NAMES = [
    n for n in _ALL_QUERIES if n not in OVERFLOW_QUERY_NAMES
]
assert len(DRIVER_QUERY_NAMES) == DRIVER_GATE_CAP, (
    f"driver set must hold exactly {DRIVER_GATE_CAP} queries, got "
    f"{len(DRIVER_QUERY_NAMES)} — move entries to OVERFLOW_QUERY_NAMES"
)
QUERIES = {
    n: _ALL_QUERIES[n] for n in DRIVER_QUERY_NAMES + OVERFLOW_QUERY_NAMES
}

ORACLES = {
    "bm25_topk": _bm25_sql(),
    "index_bm25_topk": _bm25_sql(),
    "index_wand_topk": _bm25_sql(),
    "index_filtered_topk": _filtered_bm25_sql(),
    "index_incremental_topk": _bm25_sql(),
    "index_phrase_topk": _phrase_bm25_sql(),
    "index_phrase_slop": _phrase_slop_sql(),
    "index_facets": _facets_sql(),
    "index_facet_topn": _facet_topn_sql(),
    "index_boosted_topk": _boosted_bm25_sql(),
    "index_boolean_topk": _boolean_bm25_sql(),
    "index_qop_and": _boolean_bm25_sql(DOC_QOP_QUERIES, default_op="AND"),
    "index_cursor_pages": _cursor_pages_sql(),
    "index_mlt": _mlt_sql(),
    "index_mlt_terms": _mlt_terms_sql(),
    "index_highlight": _highlight_sql(),
    "index_fielded_topk": _fielded_bm25_sql(),
    "index_dismax_topk": _dismax_bm25_sql(),
    "index_minmatch_topk": _minmatch_bm25_sql(),
    "index_prefix_topk": _prefix_bm25_sql(),
    "index_wildcard_topk": _wildcard_bm25_sql(),
    "index_fuzzy_topk": _fuzzy_bm25_sql(),
    "index_analyzed_topk": _analyzed_bm25_sql(),
    "index_collapse": _collapse_sql(),
    "index_group_topk": _group_topk_sql(),
    "index_pivot_facets": _pivot_facets_sql(),
    "index_pivot3": _pivot3_sql(),
    "index_group_ngroups": _group_ngroups_sql(),
    "index_group_sort": _group_sort_sql(),
    "index_interval_facets": _interval_facets_sql(),
    "index_range_facets": _range_facets_sql(),
    "index_stats_string": _stats_string_sql(),
    "index_facet_query": _facet_query_sql(),
    "index_stats_field": _stats_field_sql(),
    "index_suggest": _suggest_sql(),
    "index_complete": _complete_sql(),
    "index_search_request": _search_request_sql(),
    "index_term_vectors": _term_vectors_sql(),
    "index_hl_snippets": _hl_snippets_sql(),
    "stratified_sample": _stratified_sample_sql(),
    "doclen_quantiles_strata": _doclen_quantiles_sql(),
    "index_collate": _collate_sql(),
    "index_funcsort": _funcsort_sql(),
    "index_stats_facet": _stats_facet_sql(),
    "index_parent_join": _parent_join_sql(),
    "index_child_join": _child_join_sql(),
    "index_delete_query": _delete_query_sql(),
    "index_rtget": _rtget_sql(),
    "index_percolate": _percolate_sql(),
    "index_export": _export_sql(),
    "index_attr_query": _attr_query_sql(),
    "index_term_boosts": _term_boosts_sql(),
    "index_explain": _explain_sql(),
    "index_terms_component": _terms_component_sql(),
    "index_rerank_topk": _rerank_sql(),
    "index_elevate": _elevate_sql(),
    "index_join_filter": _join_filter_sql(),
    "index_synonym_topk": _synonym_sql(),
    "index_subfacets": _subfacets_sql(),
    "term_stats": Q_TERM_STATS_SQL,
    "doclen_hist": Q_DOCLEN_HIST_SQL,
    "regex_match_filter": Q_REGEX_MATCH_SQL,
    "cut_replace_prepend_append": Q_CUT_REPLACE_SQL,
    "mapping_translate": Q_MAPPING_SQL,
    "alternatives_coalesce": Q_ALTERNATIVES_SQL,
    "insert_into_format": Q_INSERT_INTO_SQL,
    "if_numeric_gate": Q_IF_NUMERIC_SQL,
    "sha256_digest": Q_SHA256_SQL,
    "joined_map_zip": Q_JOINED_MAP_SQL,
    "pricing_summary": Q_PRICING_SQL,
    "topk_orders_per_customer": Q_TOPK_ORDERS_SQL,
    "broadcast_dim_join": Q_DIM_JOIN_SQL,
    "exact_dedup": Q_EXACT_DEDUP_SQL,
    "token_count": Q_TOKEN_COUNT_SQL,
    "quality_score": Q_QUALITY_SQL,
    "cosine_topk": Q_COSINE_SQL,
    "sessionize_events": Q_SESSIONIZE_SQL,
    "tumbling_window_counts": Q_TUMBLING_SQL,
    "distinct_agg": Q_DISTINCT_AGG_SQL,
    "intersect_except": Q_INTERSECT_EXCEPT_SQL,
    "antijoin_purge": Q_ANTIJOIN_SQL,
    "max_age_delta": Q_MAX_AGE_SQL,
    "rollup_agg": Q_ROLLUP_SQL,
    "cdc_snapshot_diff": Q_CDC_SQL,
    "ngram_jaccard_pairs": Q_NGRAM_JACCARD_SQL,
    "language_id": _langid_sql(),
    "token_stats": Q_TOKEN_STATS_SQL,
    "repetition_signals": _repetition_sql(),
    "shared_ngram_share": _SHARED_NGRAM_SQL,
    "ngram_contamination": _CONTAMINATION_SQL,
    "pii_scrub": _pii_scrub_sql(),
    "chunk_documents": _chunk_sql(),
    # The four formerly-rows-only ops, now oracled by decision or by
    # SQL-reproducible (md5) hashing:
    "minhash_dedup": Q_MINHASH_DEDUP_SQL,  # clusters vs exact-Jaccard CC
    "minhash_dedup_bounded": Q_MINHASH_DEDUP_SQL,  # bounded == exact on oracle data
    "embedding_dedup": Q_EMBEDDING_DEDUP_SQL,  # LSH candidates vs exact-cos CC
    "simhash": Q_SIMHASH_SQL,  # md5 bit lanes, value-exact
    "embedding_ann_lsh": Q_COSINE_SQL,  # ANN result vs exact top-k (recall=1)
    "embedding_ann_ivf": Q_COSINE_SQL,  # all-cells probe == exact top-k
    "doc_fingerprint": Q_DOC_FINGERPRINT_SQL,  # md5 min-window, value-exact
    "multimodal_features": Q_MULTIMODAL_SQL,  # binary round-trip invariants
}
