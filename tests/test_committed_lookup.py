"""Term statistics of a committed index come from the driver: the stats
row and the query terms' dfs read with pyarrow from the part files the
committed frames pin, bit-identical to the one-job Spark lookup."""

from __future__ import annotations

import uuid

import pytest

from spcht_spark.index import query
from spcht_spark.index.query import stats_and_idfs
from spcht_spark.plans.indexer import index_order, load_index, run_index_order

# ws tokenizer, no analyzer: each space-separated word is a term as
# written, quotes, backslashes, braces and non-ASCII text included
DOCS = [
    (0, "the it's a\\b {x} } naïve"),
    (1, "the 日本 语 it's"),
    (2, "the rare"),
    (3, "the {x} a\\b"),
    (4, "the"),
]
TERMS = [
    "the",                      # hot: every doc
    "rare",                     # one doc
    "zzz_absent", "{absent}",   # absent
    "it's", "a\\b", "{x}", "}", "naïve", "日本",
    "the",                      # a repeated term
]


def _jobs(spark, fn):
    """(fn(), Spark jobs it ran), counted in a fresh job group."""
    sc = spark.sparkContext
    group = f"lookup-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _bits(stats_row, idfs):
    return (
        stats_row["n_docs"], float.hex(stats_row["avgdl"]),
        {t: float.hex(v) for t, v in idfs.items()},
    )


@pytest.fixture(scope="module")
def workdir(spark, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("lookup") / "idx")
    corpus = spark.createDataFrame(DOCS, "doc_id long, content string")
    run_index_order(spark, index_order(
        wd, "lookup", lambda s: corpus, tokenizer="ws", verify_sha256=False
    ))
    return wd


def _job_route(spark, wd, terms):
    """The same lookup over frames read_committed did not open: one job."""
    dictionary = spark.read.parquet(f"{wd}/dictionary")
    stats = spark.read.parquet(f"{wd}/stats")
    out, jobs = _jobs(spark, lambda: stats_and_idfs(dictionary, stats, terms))
    assert jobs == 1
    return out


@pytest.mark.parametrize("terms", [TERMS, ["zzz_absent"], []], ids=["mixed", "absent", "empty"])
def test_committed_lookup_runs_no_job(spark, workdir, terms):
    idx = load_index(spark, workdir)
    got, jobs = _jobs(spark, lambda: stats_and_idfs(idx.dictionary, idx.stats, terms))
    assert jobs == 0
    want = _job_route(spark, workdir, terms)
    assert _bits(*got) == _bits(*want)
    if terms is TERMS:
        assert set(got[1]) == set(TERMS) - {"zzz_absent", "{absent}"}
    # a second call on the same handle reads the files again, with no job
    again, jobs = _jobs(spark, lambda: stats_and_idfs(idx.dictionary, idx.stats, terms))
    assert jobs == 0 and _bits(*again) == _bits(*got)


def test_dictionary_over_one_split_takes_the_job(spark, workdir, monkeypatch):
    """With the size gate below the dictionary's bytes the committed
    index takes the one-job route, with the same values."""
    monkeypatch.setattr(query, "_split_bytes", lambda spark: 0)
    idx = load_index(spark, workdir)
    got, jobs = _jobs(spark, lambda: stats_and_idfs(idx.dictionary, idx.stats, TERMS))
    assert jobs == 1
    assert _bits(*got) == _bits(*_job_route(spark, workdir, TERMS))


@pytest.mark.parametrize(
    "text, want", [("134217728b", 128 << 20), ("16m", 16 << 20), ("1gb", 1 << 30), ("4096", 4096)]
)
def test_split_bytes_reads_the_public_conf(spark, text, want):
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, text)
    try:
        assert query._split_bytes(spark) == want
    finally:
        spark.conf.set(key, old)


def test_in_memory_frames_take_the_job(spark, workdir):
    """A frame derived from a committed one is not pinned: one job."""
    idx = load_index(spark, workdir)
    got, jobs = _jobs(spark, lambda: stats_and_idfs(
        idx.dictionary.where("true"), idx.stats, ["the"]
    ))
    assert jobs == 1
    assert _bits(*got) == _bits(*_job_route(spark, workdir, ["the"]))
