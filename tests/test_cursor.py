"""cursorMark keyset pagination vs a single global sort."""

from __future__ import annotations

from pyspark.sql import functions as F

from spcht_spark.index.cursor import paged_scan
from spcht_spark.oracle import tokenize_py


def _expected_pages(pdf, queries, page_size, n_pages):
    toks = {int(r.doc_id): set(tokenize_py(r.content)) for r in pdf.itertuples()}
    lens = {int(r.doc_id): len(r.content) for r in pdf.itertuples()}
    out = []
    for qid, terms in queries:
        m = sorted(
            ((lens[d], d) for d, s in toks.items() if s & set(terms)),
        )
        for i, (sv, d) in enumerate(m[: page_size * n_pages]):
            out.append((qid, i // page_size, i % page_size + 1, d, sv))
    return sorted(out)


def test_paged_scan_reconstructs_global_sort(spark, small_corpus_pd, small_corpus, small_index):
    queries = [("cp_hot", ["return", "if"]), ("cp_tail", ["handler7", "handler8"])]
    attrs = small_corpus.select("doc_id", F.length("content").alias("n_chars"))
    got = paged_scan(
        spark, small_index.blocks, queries, attrs, "n_chars",
        page_size=7, n_pages=4,
    ).collect()
    got_t = sorted(
        (r["query_id"], r["page"], r["pos"], r["doc_id"], r["sort_value"]) for r in got
    )
    assert got_t == _expected_pages(small_corpus_pd, queries, 7, 4)


def test_paged_scan_exhausts_early(spark, small_corpus_pd, small_corpus, small_index):
    """A query with fewer matches than one page stops paging (Solr:
    cursorMark repeats), and emits exactly its matches."""
    queries = [("cp_rare", ["handler63"])]
    attrs = small_corpus.select("doc_id", F.length("content").alias("n_chars"))
    toks = {int(r.doc_id): set(tokenize_py(r.content)) for r in small_corpus_pd.itertuples()}
    n_match = sum(1 for s in toks.values() if "handler63" in s)
    assert n_match > 0
    got = paged_scan(
        spark, small_index.blocks, queries, attrs, "n_chars",
        page_size=n_match + 10, n_pages=5,
    ).collect()
    assert len(got) == n_match
    assert all(r["page"] == 0 for r in got)


def _expected_pages_typed(pdf, queries, page_size, n_pages, sort_of):
    toks = {int(r.doc_id): set(tokenize_py(r.content)) for r in pdf.itertuples()}
    svs = {int(r.doc_id): sort_of(r) for r in pdf.itertuples()}
    out = []
    for qid, terms in queries:
        m = sorted(((svs[d], d) for d, s in toks.items() if s & set(terms)))
        for i, (sv, d) in enumerate(m[: page_size * n_pages]):
            out.append((qid, i // page_size, i % page_size + 1, d, sv))
    return sorted(out)


def test_paged_scan_double_sort_key(spark, small_corpus_pd, small_corpus, small_index):
    """Typed cursorMark: a FLOAT docValues sort pages identically to the
    offset-window oracle (round-3 VERDICT 'What's missing' #3)."""
    queries = [("cpd", ["return", "if"])]
    # a float with heavy ties (rounded ratio) to exercise the tie-break arm
    attrs = small_corpus.select(
        "doc_id",
        F.round(F.length("content") / F.lit(7.0), 1).alias("ratio"),
    )
    got = paged_scan(
        spark, small_index.blocks, queries, attrs, "ratio",
        page_size=9, n_pages=3, sort_type="double",
    ).collect()
    got_t = sorted(
        (r["query_id"], r["page"], r["pos"], r["doc_id"], r["sort_value"])
        for r in got
    )
    want = _expected_pages_typed(
        small_corpus_pd, queries, 9, 3,
        lambda r: round(len(r.content) / 7.0, 1),
    )
    assert got_t == want


def test_paged_scan_string_sort_key(spark, small_corpus_pd, small_corpus, small_index):
    """Typed cursorMark: a STRING docValues sort (e.g. path) pages in
    lexicographic order with (sort, doc_id) keyset resumption."""
    queries = [("cps", ["return", "if"])]
    attrs = small_corpus.select("doc_id", "path")
    got = paged_scan(
        spark, small_index.blocks, queries, attrs, "path",
        page_size=9, n_pages=3, sort_type="string",
    ).collect()
    got_t = sorted(
        (r["query_id"], r["page"], r["pos"], r["doc_id"], r["sort_value"])
        for r in got
    )
    want = _expected_pages_typed(
        small_corpus_pd, queries, 9, 3, lambda r: r.path,
    )
    assert got_t == want


def test_paged_scan_missing_sort_values_page_last(spark, small_corpus_pd, small_corpus, small_index):
    """Docs without a sort value page last (Solr sortMissingLast, the
    DuckDB default), ordered by doc_id, and the cursor walks through
    them: a NULL cursor resumes at the next NULL row by doc_id."""
    queries = [("cn_hot", ["return", "if"]), ("cn_tail", ["handler7", "handler8"])]
    attrs = small_corpus.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 != 0, F.length("content")).alias("n_chars"),
    )
    toks = {int(r.doc_id): set(tokenize_py(r.content)) for r in small_corpus_pd.itertuples()}
    lens = {
        int(r.doc_id): None if int(r.doc_id) % 5 == 0 else len(r.content)
        for r in small_corpus_pd.itertuples()
    }
    n_tail = sum(1 for s in toks.values() if s & {"handler7", "handler8"})
    n_pages = n_tail // 7 + 2
    want = []
    for qid, terms in queries:
        m = sorted(
            ((lens[d] is None, lens[d] or 0, d) for d, s in toks.items() if s & set(terms)),
        )
        for i, (_, _, d) in enumerate(m[: 7 * n_pages]):
            want.append((qid, i // 7, i % 7 + 1, d, lens[d]))
    # the tail query pages past its last value into more than a page of NULLs
    assert sum(1 for w in want if w[0] == "cn_tail" and w[4] is None) > 7
    got = paged_scan(
        spark, small_index.blocks, queries, attrs, "n_chars",
        page_size=7, n_pages=n_pages,
    ).collect()
    got_t = sorted(
        (r["query_id"], r["page"], r["pos"], r["doc_id"], r["sort_value"]) for r in got
    )
    assert got_t == sorted(want)
