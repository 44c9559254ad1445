"""Streaming index maintenance: a file-source stream of doc deltas
drives the committed index through foreachBatch incremental merges, and
the result equals a full rebuild regardless of micro-batch boundaries
(the update engine's byte-identity contract, batch-split-independent).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from spcht_spark.index.build import build_index
from spcht_spark.oracle import tokenize_py

SPAN = 64

DELTA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("content", T.StringType(), True),
        T.StructField("op", T.StringType(), False),
    ]
)


def _canon(df, keys):
    pdf = df.toPandas()
    return pdf.sort_values(keys).reset_index(drop=True)[sorted(pdf.columns)]


def _assert_index_equal(full, got):
    for name, keys in [
        ("doclens", ["doc_id"]),
        ("dictionary", ["term"]),
        ("stats", ["n_docs"]),
        ("blocks", ["term", "shard", "block_seq"]),
    ]:
        a = _canon(getattr(full, name), keys)
        b = _canon(getattr(got, name), keys)
        assert len(a) == len(b), f"{name}: {len(a)} vs {len(b)} rows"
        for col in a.columns:
            av, bv = a[col], b[col]
            if av.dtype.kind == "f":
                assert (av.to_numpy() == bv.to_numpy()).all(), f"{name}.{col}"
            else:
                assert av.equals(bv), f"{name}.{col}"


def test_stream_index_updates_equals_full_rebuild(spark, small_corpus, tmp_path):
    from spcht_spark.plans.indexer import index_order, load_index, run_index_order
    from spcht_spark.streaming.index_stream import stream_index_updates

    final = small_corpus.filter(F.col("doc_id") < 120)
    # base: docs 100-119 missing (inserts), 0-9 truncated (updates),
    # plus 5 doomed docs to be deleted by the stream
    doomed = spark.createDataFrame(
        [
            (2000 + i, "org0/doomed", f"tmp/d{i}.py", "c" * 40, "python",
             f"return doomed{i} {{ }} import ;", "")
            for i in range(5)
        ],
        small_corpus.schema,
    )
    base = (
        final.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 100))
        .unionByName(
            final.filter(F.col("doc_id") < 10).withColumn(
                "content", F.substring("content", 1, 20)
            )
        )
        .unionByName(doomed)
    )
    workdir = str(tmp_path / "idx")
    run_index_order(
        spark,
        index_order(workdir, "s-base", lambda s: base, shard_span=SPAN,
                    verify_sha256=False),
    )

    # the delta FEED: two files → two micro-batches (maxFilesPerTrigger=1)
    feed = tmp_path / "feed"
    feed.mkdir()
    upserts = [
        {"doc_id": int(r["doc_id"]), "content": r["content"], "op": "upsert"}
        for r in final.filter(
            (F.col("doc_id") < 10) | (F.col("doc_id") >= 100)
        ).select("doc_id", "content").collect()
    ]
    deletes = [{"doc_id": 2000 + i, "content": None, "op": "delete"} for i in range(5)]
    with open(feed / "batch0.json", "w") as fh:
        fh.write("\n".join(json.dumps(r) for r in upserts))
    with open(feed / "batch1.json", "w") as fh:
        fh.write("\n".join(json.dumps(r) for r in deletes))

    deltas = (
        spark.readStream.schema(DELTA_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(feed))
    )
    q = stream_index_updates(deltas, workdir, str(tmp_path / "ckpt"))
    q.awaitTermination(300)

    got = load_index(spark, workdir)
    fullb = build_index(spark, final, shard_span=SPAN)
    _assert_index_equal(fullb, got)

    with open(os.path.join(workdir, "manifest.json")) as fh:
        m = json.load(fh)
    runs = [u["run_id"] for u in m["updates"]]
    assert runs == ["stream-batch-0", "stream-batch-1"]


PERC_QS = [
    ("sq_ri", "return AND import"),
    ("sq_not", "NOT return"),
    ("sq_mix", "(if OR else) AND -while"),
]


def test_percolate_stream_equals_batch(spark, small_corpus, tmp_path):
    """Percolation is a stateless projection: the same standing-query
    set over a file stream (2 micro-batches) emits exactly the batch
    percolate's (doc_id, query_id) set."""
    from spcht_spark.index.percolate import percolate, percolate_stream

    docs = small_corpus.filter(F.col("doc_id") < 80).select("doc_id", "content")
    want = {
        (r["doc_id"], r["query_id"])
        for r in percolate(docs, PERC_QS).collect()
    }
    assert want and any(q == "sq_not" for _, q in want)  # negatives legal

    feed = tmp_path / "pfeed"
    feed.mkdir()
    rows = docs.collect()
    for i, half in enumerate((rows[:40], rows[40:])):
        with open(feed / f"b{i}.json", "w") as fh:
            fh.write("\n".join(
                json.dumps({"doc_id": r["doc_id"], "content": r["content"]})
                for r in half
            ))
    stream = (
        spark.readStream.schema("doc_id long, content string")
        .option("maxFilesPerTrigger", 1)
        .json(str(feed))
    )
    out = percolate_stream(stream, PERC_QS)
    q = (
        out.writeStream.format("memory")
        .queryName("perc_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["doc_id"], r["query_id"])
        for r in spark.sql("SELECT * FROM perc_out").collect()
    }
    assert got == want


def test_percolate_analyzer_folds_both_sides(spark):
    """With the lowercase,stop,sstem chain, doc tokens and query terms
    fold through ONE chain: 'Spark' matches query 'sparks' (s-stem),
    stopwords match nothing."""
    from spcht_spark.index.percolate import percolate

    docs = spark.createDataFrame(
        [(1, "Spark Joins THE pipeline"), (2, "nothing relevant")],
        ["doc_id", "content"],
    )
    got = {
        (r["doc_id"], r["query_id"])
        for r in percolate(
            docs, [("a", "sparks"), ("b", "JOIN"), ("c", "the")],
            analyzer="lowercase,stop,sstem",
        ).collect()
    }
    assert (1, "a") in got and (1, "b") in got
    assert all(q != "c" for _, q in got)  # stopword clause matches nothing


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_percolate_fuzzy_and_wildcard_match_doc_terms(spark, small_corpus, small_corpus_pd):
    """Fuzzy (``retrn~1``) and wildcard (``ret*``) clauses match
    against the doc's own terms: a doc satisfies ``base~d`` iff one of
    its terms is within edit distance d of base, and a wildcard iff one
    of its terms matches the whole pattern. Reference: the doc's
    tokenize_py term set (equal to the percolator's whitespace split on
    this corpus, asserted below)."""
    from fnmatch import fnmatchcase

    from spcht_spark.index.boolean import parse_query
    from spcht_spark.index.percolate import percolate

    qs = [
        ("f_ret", "retrn~1"),
        ("f_swap", "retrun~2"),  # plain Levenshtein: a swap costs 2
        ("f_idx", "idx99~1"),
        ("w_ret", "ret*"),
        ("w_buf", "buf?9"),
        ("w_infix", "h*r3?"),
        ("mix", "(retrn~1 OR buf?9) AND NOT h*r3?"),
        ("w_suffix", "*n39"),
        ("neg_fuzzy", "NOT tokn39~1"),
    ]

    def ref(ast, terms) -> bool:
        kind = ast[0]
        if kind == "term":
            return ast[1] in terms
        if kind == "fuzzy":
            return any(_levenshtein(t, ast[1]) <= ast[2] for t in terms)
        if kind == "wild":
            return any(fnmatchcase(t, ast[1]) for t in terms)
        if kind == "not":
            return not ref(ast[1], terms)
        return (all if kind == "and" else any)(ref(a, terms) for a in ast[1])

    sub = small_corpus_pd[small_corpus_pd["doc_id"] < 120]
    parsed = [(qid, parse_query(q, require_positive=False)) for qid, q in qs]
    want = set()
    for d, content in zip(sub["doc_id"], sub["content"]):
        terms = set(tokenize_py(content))
        assert terms == set(content.split()), d
        want |= {(int(d), qid) for qid, ast in parsed if ref(ast, terms)}
    docs = small_corpus.filter(F.col("doc_id") < 120).select("doc_id", "content")
    got = {(r["doc_id"], r["query_id"]) for r in percolate(docs, qs).collect()}
    assert got == want
    for qid, _ in qs:  # every clause shape matches some docs, not all
        assert 0 < sum(q == qid for _, q in want) < len(sub), qid
