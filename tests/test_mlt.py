"""More-like-this vs a pure-Python oracle (rewrite + scoring)."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from spcht_spark.index.mlt import interesting_terms, mlt_topk
from spcht_spark.oracle import idf as idf_py
from spcht_spark.oracle import term_score, tokenize_py

SEEDS = [3, 57, 200]
MAX_TERMS = 6
K = 8


def _py_mlt(pdf, seeds, max_terms, k):
    toks = {int(r.doc_id): Counter(tokenize_py(r.content)) for r in pdf.itertuples()}
    dls = {d: sum(c.values()) for d, c in toks.items()}
    n_docs = len(toks)
    avgdl = sum(dls.values()) / n_docs
    df_all: Counter = Counter()
    for c in toks.values():
        df_all.update(c.keys())
    out = {}
    for seed in seeds:
        c = toks[seed]
        ws = [(round(tf * idf_py(n_docs, df_all[t]), 6), t) for t, tf in c.items()]
        ws.sort(key=lambda x: (-x[0], x[1]))
        terms = [t for _, t in ws[:max_terms]]
        scored = []
        for d, dc in toks.items():
            if d == seed:
                continue
            present = sorted(t for t in terms if t in dc)
            if not present:
                continue
            s = sum(
                term_score(dc[t], dls[d], avgdl, idf_py(n_docs, df_all[t]))
                for t in present
            )
            scored.append((d, s))
        scored.sort(key=lambda x: (-x[1], x[0]))
        out[f"mlt_{seed}"] = scored[:k]
    return out


def test_interesting_terms_rewrite(spark, small_corpus_pd, small_corpus, small_index):
    got = interesting_terms(
        small_corpus, small_index.dictionary, small_index.stats.collect()[0],
        SEEDS, max_terms=MAX_TERMS, mode="arrow",
    )
    toks = {
        int(r.doc_id): Counter(tokenize_py(r.content))
        for r in small_corpus_pd.itertuples()
        if int(r.doc_id) in SEEDS
    }
    df_all: Counter = Counter()
    for r in small_corpus_pd.itertuples():
        df_all.update(set(tokenize_py(r.content)))
    n_docs = len(small_corpus_pd)
    for seed in SEEDS:
        ws = [
            (round(tf * idf_py(n_docs, df_all[t]), 6), t)
            for t, tf in toks[seed].items()
        ]
        ws.sort(key=lambda x: (-x[0], x[1]))
        assert got[seed] == [t for _, t in ws[:MAX_TERMS]], seed


def test_mlt_topk_matches_python(spark, small_corpus_pd, small_corpus, small_index):
    got = mlt_topk(
        spark, small_index.blocks, small_index.doclens,
        small_index.dictionary, small_index.stats,
        small_corpus, SEEDS, k=K, max_terms=MAX_TERMS, mode="arrow",
    ).collect()
    by_q: dict[str, list] = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    exp = _py_mlt(small_corpus_pd, SEEDS, MAX_TERMS, K)
    assert set(by_q) == set(exp)
    for qid in exp:
        assert by_q[qid] == exp[qid], qid
    # seed never appears in its own result
    for seed in SEEDS:
        assert all(d != seed for d, _ in by_q[f"mlt_{seed}"])


def test_mlt_topk_plan_build_jobs(spark, small_corpus, committed_small_index):
    """Building the MLT plan over a committed index runs two Spark jobs:
    the seeds' stored content and their terms' dfs. The stats row is
    read on the driver, as for every other request."""
    import uuid

    idx = committed_small_index
    sc = spark.sparkContext
    group = f"mlt-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        mlt_topk(
            spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats,
            small_corpus, SEEDS, k=K, max_terms=MAX_TERMS, mode="arrow",
        )
    finally:
        sc.setJobGroup(None, None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2
