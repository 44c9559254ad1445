"""Top-k BM25 query engine over the compressed block index.

Two paths, both rank-identical to the pure-Python oracle:

* :func:`exact_scores` — the engine's one full-decode scorer: decode
  every matching block, score everything. :func:`exact_topk`, the
  boolean full path (:func:`spcht_spark.index.boolean.boolean_matches`)
  and every term-list surface (boosting, fielded, collapse, grouping,
  MLT) score through it. Plan shape: dictionary lookup driver-side
  (the ≤ handful of query terms; idf computed in Python so it is
  bit-identical to the oracle) → block scan with ``term IN (...)``
  pushed to parquet → Arrow decode UDF (docs/tfs/dls lanes — dl rides
  the block, no doclens join) → broadcast join to the (query, term,
  is_pos, boost) rows → per-term contribution (pure Catalyst doubles) →
  deterministic term-ordered summation plus the doc's term set, with an
  optional predicate over both → per-query top-k window.
* :func:`wand_topk` (spcht_spark.index.wand) — block-max WAND: skips
  decoding blocks whose upper bound cannot reach the current kth score.

Determinism contract (SURVEY.md §7 "rank identity"): contributions are
summed in ascending-term order via array_sort(collect_list(struct)) +
aggregate-fold, tie-break (score desc, doc_id asc).
"""

from __future__ import annotations

import os
import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.util import PythonEvalType

from spcht_spark.oracle import B, K1, idf as idf_py
from spcht_spark.session import shuffle_parallelism

POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("tf", T.LongType(), False),
        T.StructField("dl", T.LongType(), False),
    ]
)

TOPK_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.StringType(), False),
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


def values_df(spark: SparkSession, rows: list[tuple], cols: list[str]) -> DataFrame:
    """Tiny literal DataFrame as a pure-JVM inline table (``VALUES``).

    ``spark.createDataFrame(list)`` is parallelize-backed: every scan /
    broadcast build of it is a stage of PYTHON tasks (deserializing the
    pickled rows), measured 0.2-0.5 s per query batch on this VM and
    storm-amplified. An inline VALUES table resolves to a LocalRelation
    — the broadcast build reads it driver-side with zero tasks (guide
    §4: keep the JVM↔Python boundary out of paths that carry no data).
    Strings go through :func:`sql_str`; bool/int/float map to
    BOOLEAN/BIGINT/DOUBLE (the same types createDataFrame inferred)."""

    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, int):
            return f"CAST({v} AS BIGINT)"
        if isinstance(v, float):
            return f"CAST('{v!r}' AS DOUBLE)"
        return sql_str(v)

    if not rows:
        raise ValueError("values_df needs at least one row")
    body = ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    return spark.sql(f"SELECT * FROM VALUES {body} AS t({', '.join(cols)})")


def _decode_batches(batches):
    """The decode function behind :func:`decode_blocks` — module-level
    and closure-free so its pandas UDF can be built (pickled +
    registered over py4j) ONCE per session instead of per call.

    One numpy pass per Arrow batch instead of a Python loop per BLOCK
    (the former shape paid 3 varbyte calls + a small DataFrame build
    per block — ~1,600 Python-level calls per 528-block batch): the
    per-block buffers are concatenated and decoded once per lane
    (varbyte values are self-delimiting and every buffer ends on a
    terminator byte, so the concatenated decode IS the concatenation
    of the per-block decodes), per-block value counts are recovered
    from the terminator positions, and the delta chains — which reset
    at every block start — resolve through the codec's vectorized
    segmented cumsum. Row-identical to the per-block decode."""
    import numpy as np

    from spcht_spark.index.compress import segmented_positions, varbyte_decode

    for pdf in batches:
        if len(pdf) == 0:
            continue
        dbins = pdf["docs_bin"].tolist()
        dbuf = np.frombuffer(b"".join(dbins), dtype=np.uint8)
        if len(dbuf) == 0:
            continue
        # value count per block = terminator bytes (<0x80) per buffer
        ends = np.nonzero(dbuf < 0x80)[0]
        byte_starts = np.cumsum([0] + [len(b) for b in dbins[:-1]])
        counts = np.diff(
            np.concatenate((np.searchsorted(ends, byte_starts), [len(ends)]))
        )
        gaps = varbyte_decode(dbuf.tobytes())
        docs = segmented_positions(gaps, counts)
        tfs = varbyte_decode(b"".join(pdf["tfs_bin"])).astype("int64")
        dls = varbyte_decode(b"".join(pdf["dls_bin"])).astype("int64")
        yield pd.DataFrame(
            {
                "term": np.repeat(pdf["term"].to_numpy(), counts),
                "doc_id": docs,
                "tf": tfs,
                "dl": dls,
            }
        )


# (app_id, func module, func qualname) → the registered pandas UDF
_UDF_MEMO: dict[tuple[str, str, str], object] = {}


def _cached_udf(spark: SparkSession, func, schema, eval_type: int):
    """The pandas UDF over ``func``, built once per session.

    pyspark's ``mapInPandas``/``applyInPandas`` mixins build a fresh
    pandas UDF on every call: a re-pickle of ``func`` plus ~55-65 py4j
    round-trips (~40 ms of driver wall on a 4-core VM at ~0.75 ms per
    round-trip) per query. The UDF object (whose ``_judf`` caches the JVM
    registration) is memoized per (session, function) instead, and the
    callers apply it through the same JVM entry points the mixins use —
    identical plan, one-time setup. ``func`` MUST be module-level and
    closure-free: any per-call parameters have to ride the data as
    columns, because the function bytes are serialized exactly once per
    session."""
    app_id = spark.sparkContext.applicationId
    memo_key = (app_id, func.__module__, func.__qualname__)
    udf = _UDF_MEMO.get(memo_key)
    if udf is None:
        from pyspark.sql.pandas.functions import pandas_udf

        udf = pandas_udf(func, returnType=schema, functionType=eval_type)
        for k in [k for k in _UDF_MEMO if k[0] != app_id]:
            del _UDF_MEMO[k]  # dead sessions' judf refs
        _UDF_MEMO[memo_key] = udf
    return udf


def apply_grouped_cached(
    df: DataFrame, group_cols: list[str], func, schema
) -> DataFrame:
    """``df.groupBy(*group_cols).applyInPandas(func, schema)`` with the
    pandas UDF built once per session (:func:`_cached_udf`) and applied
    through the mixin's JVM entry point, ``flatMapGroupsInPandas``."""
    udf = _cached_udf(
        df.sparkSession, func, schema, PythonEvalType.SQL_GROUPED_MAP_PANDAS_UDF
    )
    gd = df.groupBy(*group_cols)
    jdf = gd._jgd.flatMapGroupsInPandas(udf(*[df[c] for c in df.columns])._jc)
    return df.__class__(jdf, df.sparkSession)


def apply_cogrouped_cached(
    left: DataFrame, right: DataFrame, group_cols: list[str], func, schema
) -> DataFrame:
    """``left.groupBy(...).cogroup(right.groupBy(...)).applyInPandas``
    with the pandas UDF built once per session (:func:`_cached_udf`) and
    applied through the mixin's JVM entry point,
    ``flatMapCoGroupsInPandas``."""
    udf = _cached_udf(
        left.sparkSession, func, schema, PythonEvalType.SQL_COGROUPED_MAP_PANDAS_UDF
    )
    gd1 = left.groupBy(*group_cols)
    gd2 = right.groupBy(*group_cols)
    udf_column = udf(
        *[left[c] for c in left.columns], *[right[c] for c in right.columns]
    )
    jdf = gd1._jgd.flatMapCoGroupsInPandas(gd2._jgd, udf_column._jc)
    return left.__class__(jdf, left.sparkSession)


def decode_blocks(blocks: DataFrame) -> DataFrame:
    """blocks → flat (term, doc_id, tf, dl) via Arrow-batched numpy decode.

    The doc-length lane (``dls_bin``, carried in every block since the
    build computes dl map-side) is decoded alongside docs/tfs, so every
    consumer scores WITHOUT a postings⋈doclens equi-join — at 10^12 docs
    that join was an Exchange of the full decoded posting stream
    (round-3 VERDICT "What's wrong" #3).

    ``mapInPandas`` with the decode UDF built once per session
    (:func:`_cached_udf`), through the mixin's JVM entry point."""
    df = blocks.selectExpr("term", "docs_bin", "tfs_bin", "dls_bin")
    udf = _cached_udf(
        df.sparkSession, _decode_batches, POSTINGS_SCHEMA,
        PythonEvalType.SQL_MAP_PANDAS_ITER_UDF,
    )
    jdf = df._jdf.mapInPandas(
        udf(*[df[c] for c in df.columns])._jc, False, df._build_java_profile(None)
    )
    return df.__class__(jdf, df.sparkSession)


def stats_and_idfs(
    dictionary: DataFrame,
    stats: DataFrame,
    terms: list[str],
    stats_row=None,
    idfs: dict[str, float] | None = None,
) -> tuple[dict, dict[str, float]]:
    """(stats_row, idfs) for a query batch, in at most ONE Spark job.

    Every query batch needs the corpus stats row and the query terms'
    dfs. On a committed index (both frames from
    :func:`~spcht_spark.plans.workorder.read_committed`) whose
    dictionary fits in one scan split (``spark.sql.files.
    maxPartitionBytes``: Spark would read it in one task anyway), they
    are read on the driver with pyarrow from the frames' part files, as
    Solr's searcher reads its term dictionary in process: no Spark job.
    Each call reads the stats row and, with the ``term`` filter pushed
    down to row-group statistics, the terms' rows. The one-split gate
    bounds what the driver reads; where the job wins near it was not
    measured. Any other frame (built in memory, derived, or a larger
    dictionary) takes one job: a union of the two tiny projections,
    collected together rather than as two serial driver barriers.

    idf is math.log in Python over exact ints, bit-identical to the
    oracle on either route; the returned stats row is a plain dict
    supporting ``row["n_docs"]`` subscripting.

    Batch callers (boolean_topk's router) pass the ``stats_row`` and
    ``idfs`` they already collected for a superset of ``terms``; then
    nothing is read and the idf map is subset to ``terms``."""
    if stats_row is not None:
        return stats_row, {t: idfs[t] for t in terms if t in idfs}
    stats_row, dfs = _driver_stats_dfs(dictionary, stats, terms) or _job_stats_dfs(
        dictionary, stats, terms
    )
    n_docs = stats_row["n_docs"]
    return stats_row, {t: idf_py(n_docs, dfs[t]) for t in terms if t in dfs}


def _job_stats_dfs(
    dictionary: DataFrame, stats: DataFrame, terms: list[str]
) -> tuple[dict, dict[str, int]]:
    """The stats row and the terms' dfs in one Spark job."""
    # where/selectExpr SQL strings, not per-Column ops: the Column build
    # of this same plan was ~280 py4j round-trips per batch (isin alone
    # pays one trip per literal; measured via a send_command counter),
    # ~0.2 s of driver wall at this host's ~0.75 ms per round-trip.
    s = stats.selectExpr(
        "CAST(NULL AS STRING) AS term",
        "CAST(NULL AS BIGINT) AS df",
        "CAST(n_docs AS BIGINT) AS n_docs",
        "CAST(avgdl AS DOUBLE) AS avgdl",
    )
    if terms:
        d = dictionary.where(f"term IN ({sql_in(terms)})").selectExpr(
            "term",
            "CAST(df AS BIGINT) AS df",
            "CAST(NULL AS BIGINT) AS n_docs",
            "CAST(NULL AS DOUBLE) AS avgdl",
        )
        s = s.unionByName(d)
    stats_row = {}
    dfs: dict[str, int] = {}
    for r in s.collect():
        if r["term"] is None:
            stats_row = {"n_docs": int(r["n_docs"]), "avgdl": float(r["avgdl"])}
        else:
            dfs[r["term"]] = int(r["df"])
    return stats_row, dfs


_BYTE_UNITS = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40, "p": 1 << 50}


def _split_bytes(spark: SparkSession) -> int:
    """``spark.sql.files.maxPartitionBytes``, one scan split's bytes,
    parsed from the public conf's byte string (``134217728b``, ``16m``,
    ``1gb``: binary units, as Spark reads them)."""
    text = spark.conf.get("spark.sql.files.maxPartitionBytes").strip().lower()
    m = re.fullmatch(r"(\d+)\s*([kmgtp]?)b?", text)
    if m is None:
        raise ValueError(f"spark.sql.files.maxPartitionBytes: {text!r}")
    return int(m[1]) * _BYTE_UNITS[m[2]]


def _driver_stats_dfs(
    dictionary: DataFrame, stats: DataFrame, terms: list[str]
) -> tuple[dict, dict[str, int]] | None:
    """The stats row and the terms' dfs read with pyarrow from the
    committed part files, or None where :func:`stats_and_idfs` runs
    its job instead."""
    # imported here, not at the top: the Python workers import this
    # module for its UDFs and never take this route
    import pyarrow.parquet as pq

    from spcht_spark.plans.workorder import committed_files

    dict_files = committed_files(dictionary)
    stats_files = committed_files(stats)
    if dict_files is None or stats_files is None:
        return None
    if sum(map(os.path.getsize, dict_files)) > _split_bytes(dictionary.sparkSession):
        return None
    s = pq.read_table(list(stats_files), columns=["n_docs", "avgdl"], partitioning=None)
    stats_row = {"n_docs": int(s["n_docs"][0].as_py()), "avgdl": float(s["avgdl"][0].as_py())}
    if not terms:
        return stats_row, {}
    # the term filter is pushed down to the row groups' min/max
    t = pq.read_table(
        list(dict_files), columns=["term", "df"], partitioning=None,
        filters=[("term", "in", sorted(set(terms)))],
    )
    return stats_row, dict(zip(t["term"].to_pylist(), map(int, t["df"].to_pylist())))


def sql_frames(spark: SparkSession, text: str, **frames: DataFrame) -> DataFrame:
    """``spark.sql(text, **frames)`` that leaves a cached frame cached.

    pyspark's formatter registers each frame as a temp view and drops it
    with ``catalog.dropTempView``, which uncaches the cache entry whose
    plan equals the view's. A cached frame therefore goes in under a
    ``WHERE true``: its rows are still read from the cache and the
    optimizer drops the filter, but the view's plan is no longer the
    cached one. (A projection of the same columns would not do: cache
    lookups see through it.) An uncached frame goes in as it is; the
    check is one ``storageLevel`` lookup, no DataFrame op."""
    return spark.sql(
        text,
        **{
            k: df.where("true") if df._jdf.storageLevel().isValid() else df
            for k, df in frames.items()
        },
    )


def sql_str(s: str) -> str:
    """Spark SQL string literal. Spark's parser reads ``\\`` as an
    escape character inside literals, so backslashes are doubled before
    quotes are; the literal evaluates to exactly ``s``."""
    return "'" + str(s).replace("\\", "\\\\").replace("'", "''") + "'"


def sql_esc(s: str) -> str:
    """Escape literal braces for ``spark.sql``'s arg templating (a
    string.Formatter — '{{' renders '{'). Needed wherever code tokens
    like '{' can appear inside an embedded SQL literal."""
    return s.replace("{", "{{").replace("}", "}}")


def sql_in(values) -> str:
    """Comma-joined string literals for a ``term IN (...)`` predicate.

    ``F.col(c).isin(lst)`` costs one py4j round-trip PER LITERAL (each
    element becomes a java object via _to_seq); a rendered IN-list is
    part of one ``where`` string — same Catalyst predicate, one trip."""
    return ", ".join(sql_str(v) for v in values)


def sql_in_pred(col: str, literals) -> str:
    """``col IN (...)`` over rendered SQL literals. An empty list renders
    the always-false ``1 = 0``: Spark's parser rejects ``IN ()``, and an
    empty id list asks for nothing."""
    lits = list(literals)
    return f"{col} IN ({', '.join(lits)})" if lits else "1 = 0"


def sql_double(v: float) -> str:
    """SQL expression producing EXACTLY this float64: repr() round-trips
    and CAST(string AS DOUBLE) parses it exactly."""
    return f"CAST({sql_str(repr(float(v)))} AS DOUBLE)"


def sql_ident(name: str) -> str:
    """Backquoted Spark SQL identifier: the whole name is ONE column, so
    ``meta.lang`` names a flat column, never a struct path."""
    return "`" + str(name).replace("`", "``") + "`"


def bm25_part_sql(avgdl: float) -> str:
    """The BM25 part tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) over the
    ``tf`` and ``dl`` columns — oracle.term_score without its idf
    factor, with bit-exact double literals (:func:`sql_double`)."""
    return (
        f"((tf * {sql_double(K1 + 1.0)}) / (tf + {sql_double(K1)} * "
        f"({sql_double(1.0 - B)} + {sql_double(B)} * (dl / {sql_double(avgdl)}))))"
    )


def sql_map(items, val) -> str:
    """``map('k', v, ...)`` literal from sorted (key, value) pairs."""
    return "map(" + ", ".join(
        f"{sql_str(k)}, {val(v)}" for k, v in items
    ) + ")"


# Candidate sets are bounded by the corpus: below this many docs a
# query's full candidate list fits one reducer comfortably and the salt
# pre-stage is a pure extra exchange (~0.15-0.2 s of stage overhead per
# call at page scale). Above it, the two-stage shape is what keeps a
# hot term's top-k from becoming a single-reducer straggler at 10^12
# docs. The gate input is n_docs from the already-collected stats row —
# no extra job, and the decision scales with the DATA, not the host.
SALT_MIN_DOCS = 1 << 20


def plain_rows(queries: list[tuple[str, list[str], int]]) -> list[tuple]:
    """:func:`exact_scores` rows of term-list queries: every distinct
    term scores, unboosted."""
    return [(qid, t, True, 1.0) for qid, ts, _ in queries for t in sorted(set(ts))]


def exact_scores(
    spark: SparkSession,
    blocks: DataFrame,
    rows: list[tuple[str, str, bool, float]],
    stats_row,
    idfs: dict[str, float],
    where: str | None = None,
) -> DataFrame:
    """(query_id, doc_id, score, present) of every doc holding a term
    of a query — the engine's one full-decode scorer. ``rows`` are
    (query_id, term, is_pos, boost); a negated term (``is_pos`` false)
    scores 0.0 and only shows in ``present``, the doc's set of the
    query's terms. Rows of terms outside ``idfs`` (non-empty) drop.
    ``where`` is a SQL predicate over the four columns, applied in the
    same statement; the result then drops ``present``.

    ONE statement (each DataFrame op re-analyzes the whole tree, ~8-12
    ms on a 4-core host): the ``term IN (...)`` pruned block scan
    through :func:`decode_blocks`, broadcast-joined to the rows as a
    VALUES table; the contribution ``boost * idf * part`` mirrors
    spcht_spark.oracle.term_score (``1.0 * idf`` is exact) and sums in
    ascending-term order, doubles bit-exact via :func:`sql_double`.

    Below SALT_MIN_DOCS (the proof that lets :func:`topk` skip its
    salt) the rows are hash partitioned by query_id alone, which
    clusters both the (query_id, doc_id) aggregation and the top-k
    window: one exchange instead of two (A/B min 1.13 → 0.91 s on the
    25-query reference batch). At scale that would funnel a hot query
    through one partition, so large corpora keep the standard shape."""
    query_terms = values_df(
        spark, [r for r in rows if r[1] in idfs], ["query_id", "term", "is_pos", "boost"]
    )
    postings = decode_blocks(blocks.where(f"term IN ({sql_in(sorted(idfs))})"))
    idf_map = sql_map(sorted(idfs.items()), sql_double)
    avgdl = float(stats_row["avgdl"])
    contrib = (
        f"CASE WHEN is_pos THEN boost * {idf_map}[term] * {bm25_part_sql(avgdl)} "
        "ELSE CAST(0.0 AS DOUBLE) END"
    )
    # sql_esc doubles literal braces (code tokens like '{' appear in the
    # idf map) for the arg formatter
    inner = (
        f"SELECT /*+ BROADCAST(q) */ *, {sql_esc(contrib)} AS contrib "
        "FROM {postings} AS p JOIN {qt} AS q USING (term)"
    )
    if int(stats_row["n_docs"]) < SALT_MIN_DOCS:
        n = shuffle_parallelism(spark)
        inner = f"SELECT /*+ REPARTITION({n}, query_id) */ * FROM ({inner})"
    text = (
        "SELECT query_id, doc_id, "
        "aggregate(array_sort(collect_list(struct(term, contrib))), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.contrib) AS score, "
        f"collect_set(term) AS present FROM ({inner}) "
        "GROUP BY query_id, doc_id"
    )
    if where is not None:
        text = f"SELECT query_id, doc_id, score FROM ({text}) WHERE {sql_esc(where)}"
    return sql_frames(spark, text, postings=postings, qt=query_terms)


def topn(
    df: DataFrame,
    part: list[str],
    order: str,
    limit: int | dict[str, int],
    *,
    salt: str | None = None,
    rank: str = "rank",
    cols: list[str] | None = None,
) -> DataFrame:
    """The first ``limit`` rows of each ``part`` partition under the
    total order ``order`` (SQL ORDER BY text), numbered from 1 in
    ``rank`` — the engine's one per-partition top-n. ``part=[]`` ranks
    the whole frame.

    ``limit`` is an int or a ``{query_id: k}`` map. An int renders as a
    literal, so Spark's inferred WindowGroupLimit trims each partition
    before the exchange; a map renders as ``map(...)[query_id]``, which
    it cannot.

    ``salt`` names the column hashed into ``pmod(xxhash64(salt), 64)``
    for a first per-(partition, salt) top-n: no reducer then receives a
    hot partition's whole candidate list, and the union of per-salt
    heads is a superset of the partition's head, so the final window
    over ≤ 64·limit rows per partition is exact (*Cache-Efficient Top-k
    Aggregation over High Cardinality Large Datasets*, VLDB 2023).
    ``None`` runs the one-stage window.

    ``cols`` is the output column list, the rank column wherever it
    names it (default: ``df``'s columns, then ``rank``). The windows
    carry its other columns, so ``part`` and ``order`` read only those.

    ONE df-parametrized ``spark.sql`` statement: every DataFrame op
    re-analyzes its whole (deep) tree JVM-side — ~8-12 ms per op on a
    4-core host — so a 6-op window chain paid more in plan analysis
    than in py4j traffic. Identifiers and literals go through
    :func:`sql_esc` (the arg templating is a string.Formatter)."""
    out = list(cols or [*df.columns, rank])
    keep = ", ".join(sql_esc(sql_ident(c)) for c in out if c != rank)
    if isinstance(limit, dict):
        k_map = sql_map(sorted(limit.items()), lambda k: str(int(k)))
        lim = f"{sql_esc(k_map)}[query_id]"
    else:
        lim = str(int(limit))
    order = sql_esc(order)
    by = [sql_esc(sql_ident(c)) for c in part]
    src = "{df}"
    if salt is not None:
        over = ", ".join([*by, f"pmod(xxhash64({sql_esc(sql_ident(salt))}), 64)"])
        src = (
            f"(SELECT {keep} FROM (SELECT *, row_number() OVER (PARTITION BY "
            f"{over} ORDER BY {order}) AS r1 FROM {{df}}) WHERE r1 <= {lim})"
        )
    over = (f"PARTITION BY {', '.join(by)} " if by else "") + f"ORDER BY {order}"
    r = sql_esc(sql_ident(rank))
    return sql_frames(
        df.sparkSession,
        f"SELECT {', '.join(sql_esc(sql_ident(c)) for c in out)} FROM ("
        f"SELECT {keep}, row_number() OVER ({over}) AS {r} FROM {src}) "
        f"WHERE {r} <= {lim}",
        df=df,
    )


def topk(
    scores: DataFrame, ks: dict[str, int], n_docs: int | None = None
) -> DataFrame:
    """Per-query top-k with deterministic tie-break (score desc, doc
    asc): :func:`topn` salted on doc_id, so the plain per-query window
    (≤|queries| tasks — a straggler/OOM shape when the exact path
    scores a hot term over 10^12 docs) only ever sees ≤ 64·k rows per
    query. The salt stage is semantically a no-op, so it is SKIPPED
    when the caller proves the corpus is small (``n_docs`` <
    SALT_MIN_DOCS) — same rows out."""
    salted = n_docs is None or n_docs >= SALT_MIN_DOCS
    return topn(
        scores, ["query_id"], "score DESC, doc_id ASC", ks,
        salt="doc_id" if salted else None,
        cols=["query_id", "rank", "doc_id", "score"],
    )


def exact_topk(
    spark: SparkSession,
    blocks: DataFrame,
    doclens: DataFrame,
    dictionary: DataFrame,
    stats: DataFrame,
    queries: list[tuple[str, list[str], int]],
    mode: str = "or",
    doc_filter: DataFrame | None = None,
    min_match: int | dict[str, int] | None = None,
) -> DataFrame:
    """Exact BM25 top-k for a batch of queries. mode='or' (disjunctive)
    or 'and' (conjunctive: doc must match every query term; a term
    absent from the index empties that query, Lucene MUST semantics).

    ``min_match`` — Solr (e)dismax ``mm``: a disjunctive doc is
    admissible only if it contains at least mm DISTINCT query terms
    (int: same mm for every query; dict: per-query). Lucene counts
    SHOULD clauses matched against the ORIGINAL query — terms absent
    from the index still raise the bar, they never lower it. mm=1 is
    plain OR; mm=len(terms) equals mode='and'. Ignored under
    mode='and'. Scoring stays pure BM25 over the matched terms.

    ``doc_filter`` — Solr fq parity (the reference ANDs field predicates
    into every query, /root/reference/Spcht/Core/WorkOrder.py:702-707):
    a one-column (doc_id) DataFrame of admissible docs; candidates are
    restricted to it by a semi-join AFTER scoring, and — exactly like
    fq — the filter does NOT change scoring (idf/avgdl stay corpus-wide).
    The semi-join shuffles only (query_id, doc_id, score) candidate
    rows, never postings, so it stays narrow at 10^12 docs.

    ``doclens`` is accepted for API symmetry with IndexTables but no
    longer joined: blocks carry the dl lane and decode_blocks surfaces
    it, removing the postings-wide Exchange.
    """
    all_terms = sorted({t for _, ts, _ in queries for t in ts})
    stats_row, idfs = stats_and_idfs(dictionary, stats, all_terms)
    if not idfs:
        # No query term occurs in the corpus → empty result, stable schema.
        return spark.createDataFrame([], schema=TOPK_SCHEMA)

    # admissibility is a count of the doc's distinct query terms,
    # checked inside the scoring statement
    where = None
    if mode == "and":
        # drop queries containing any index-absent term (can't be satisfied)
        queries = [q for q in queries if all(t in idfs for t in q[1])]
        if not queries:
            return spark.createDataFrame([], schema=TOPK_SCHEMA)
        n_terms = {qid: len(set(ts)) for qid, ts, _ in queries}
        where = f"size(present) = {sql_map(sorted(n_terms.items()), str)}[query_id]"
    elif min_match is not None:
        mm = (
            {qid: int(min_match) for qid, _, _ in queries}
            if isinstance(min_match, int)
            else {qid: int(min_match.get(qid, 1)) for qid, _, _ in queries}
        )
        where = f"size(present) >= {sql_map(sorted(mm.items()), str)}[query_id]"
    scores = exact_scores(spark, blocks, plain_rows(queries), stats_row, idfs, where)
    if doc_filter is not None:
        scores = scores.join(doc_filter.select("doc_id"), "doc_id", "semi")
    return topk(scores, {qid: k for qid, _, k in queries}, n_docs=int(stats_row["n_docs"]))


def boosted_topk(
    spark: SparkSession,
    blocks: DataFrame,
    doclens: DataFrame,
    dictionary: DataFrame,
    stats: DataFrame,
    queries: list[tuple[str, list[str], int]],
    attrs: DataFrame,
    bf: tuple[Column, list[str]] | None = None,
    boost: tuple[Column, list[str]] | None = None,
) -> DataFrame:
    """Function-query boosting (Solr ``bf=``/``boost=``): disjunctive
    BM25 re-weighted by document-level functions of attribute fields —
    ``score = BM25 · boost(attrs) + bf(attrs)`` (edismax multiplicative
    ``boost`` and additive ``bf``; Lucene FunctionScoreQuery).

    Each of ``bf``/``boost`` is ``(expression Column, [attr columns it
    reads])`` — the explicit column list prunes the attrs join input,
    like the facet specs. The function applies to EVERY admissible
    candidate BEFORE top-k selection (a doc outside the raw BM25 page
    can boost into it), so the join is candidates⋈attrs on doc_id —
    narrow rows, never postings — followed by the standard two-stage
    salted top-k. NULL function values contribute neutrally (boost 1,
    bf 0), Solr's behavior for docs missing the field.
    """
    if bf is None and boost is None:
        return exact_topk(spark, blocks, doclens, dictionary, stats, queries)
    all_terms = sorted({t for _, ts, _ in queries for t in ts})
    stats_row, idfs = stats_and_idfs(dictionary, stats, all_terms)
    if not idfs:
        return spark.createDataFrame([], schema=TOPK_SCHEMA)
    scores = exact_scores(spark, blocks, plain_rows(queries), stats_row, idfs)
    need = sorted(
        {c for spec in (bf, boost) if spec is not None for c in spec[1]}
    )
    joined = scores.join(
        attrs.select("doc_id", *[F.col(c) for c in need]), "doc_id", "left"
    )
    expr = F.col("score")
    if boost is not None:
        expr = expr * F.coalesce(boost[0].cast("double"), F.lit(1.0))
    if bf is not None:
        expr = expr + F.coalesce(bf[0].cast("double"), F.lit(0.0))
    rescored = joined.select("query_id", "doc_id", expr.alias("score"))
    return topk(rescored, {qid: k for qid, _, k in queries}, n_docs=int(stats_row["n_docs"]))
