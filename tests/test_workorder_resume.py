"""Resumability gate (BASELINE.md): kill after any stage → resume →
identical index; completed stages skipped; metrics/lineage recorded."""

from __future__ import annotations

import os
import shutil

import pytest

from spcht_spark.corpus import REFERENCE_QUERIES, generate_corpus
from spcht_spark.index.query import exact_topk
from spcht_spark.plans import workorder as wo
from spcht_spark.plans.indexer import index_order, load_index, run_index_order


def _source(spark):
    return generate_corpus(spark, n_docs=120, min_lines=3, max_lines=20, partitions=4)


class FakeClock:
    def __init__(self):
        self.t = 1_000_000.0

    def __call__(self):
        self.t += 1.0
        return self.t


def _blocks_content(idx):
    return sorted(
        (r["term"], r["shard"], r["block_seq"], bytes(r["docs_bin"]), bytes(r["tfs_bin"]))
        for r in idx.blocks.collect()
    )


def test_full_run_and_resume_identical(spark, tmp_path):
    wd1, wd2 = str(tmp_path / "run1"), str(tmp_path / "run2")

    order1 = index_order(wd1, "r1", _source, shard_span=64, clock=FakeClock())
    idx1 = run_index_order(spark, order1)
    content1 = _blocks_content(idx1)

    # Simulate a crash: full run, then destroy the two final stages and
    # one in-flight (no _SUCCESS) stage dir.
    order2 = index_order(wd2, "r2", _source, shard_span=64, clock=FakeClock())
    run_index_order(spark, order2)
    shutil.rmtree(os.path.join(wd2, "blocks"))
    shutil.rmtree(os.path.join(wd2, "stats"))
    m = wo.read_manifest(order2)
    m["stages"]["blocks"]["status"] = wo.Status.STAGE_RUNNING
    m["stages"]["stats"]["status"] = wo.Status.STAGE_RUNNING
    wo._write_manifest(order2, m)

    order2r = index_order(wd2, "r2", _source, shard_span=64, clock=FakeClock())
    idx2 = run_index_order(spark, order2r)
    assert _blocks_content(idx2) == content1, "resumed index differs"

    # tokens stage must have been skipped on resume: exactly one metrics
    # stage-level row for 'tokens', two for 'blocks' (initial + re-run).
    mdf = wo.metrics(order2r, spark).filter("partition_id = -1").toPandas()
    assert (mdf["stage"] == "tokens").sum() == 1
    assert (mdf["stage"] == "blocks").sum() == 2


def test_loaded_index_answers_queries(spark, tmp_path, small_corpus_pd):
    wd = str(tmp_path / "runq")
    order = index_order(wd, "rq", _source, shard_span=64, clock=FakeClock())
    run_index_order(spark, order)
    idx = load_index(spark, wd)
    res = exact_topk(
        spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats,
        [("q", ["return"], 5)],
    ).collect()
    assert 0 < len(res) <= 5

    from spcht_spark.oracle import Bm25Oracle
    from spcht_spark.corpus import generate_corpus_local

    oracle = Bm25Oracle(generate_corpus_local(120, 3, 20))
    want = oracle.query(["return"], 5)
    assert [r["doc_id"] for r in res] == [d for d, _ in want]


def test_status_monotonic_guard(spark, tmp_path):
    wd = str(tmp_path / "runm")
    order = index_order(wd, "rm", _source, shard_span=64, clock=FakeClock())
    run_index_order(spark, order)
    with pytest.raises(ValueError, match="regression"):
        wo._update_manifest(order, "blocks", wo.Status.STAGE_RUNNING)


def test_check_order_rollup(spark, tmp_path):
    wd = str(tmp_path / "runc")
    order = index_order(wd, "rc", _source, shard_span=64, clock=FakeClock())
    run_index_order(spark, order)
    rep = wo.check_order(order, spark)
    assert rep["status"] == wo.Status.ALL_DONE
    assert rep["unfinished"] == []
    assert rep["stages"]["tokens"]["rows_out"] > 0
    assert rep["stages"]["blocks"]["bytes_out"] > 0
    assert rep["stages"]["blocks"]["seconds"] > 0
    assert rep["stages"]["skew"]["rows_out"] > 0  # histogram persisted


def test_check_order_runs_two_jobs(spark, tmp_path):
    """The pyarrow-written metrics table opens with its fixed schema, so
    check_order runs only its rollup (2 jobs), no schema inference."""
    wd = str(tmp_path / "runj")
    order = index_order(wd, "rj", _source, shard_span=64, clock=FakeClock())
    run_index_order(spark, order)
    sc = spark.sparkContext
    sc.setJobGroup("check-order-jobs", "check_order")
    try:
        wo.check_order(order, spark)
    finally:
        sc.setJobGroup(None, None)
    assert len(sc.statusTracker().getJobIdsForGroup("check-order-jobs")) == 2


def test_single_step_advance(spark, tmp_path):
    """HandleWorkOrder parity: max_new_stages=1 executes exactly one
    pending stage per call and never marks ALL_DONE early."""
    wd = str(tmp_path / "runstep")
    order = index_order(wd, "rstep", _source, shard_span=64, clock=FakeClock())
    wo.run_order(spark, order, max_new_stages=1)
    m = wo.read_manifest(order)
    assert m["stages"]["ingest"]["status"] == wo.Status.STAGE_DONE
    assert m["stages"]["tokens"]["status"] == wo.Status.CREATED
    assert m["status"] != wo.Status.ALL_DONE
    wo.run_order(spark, order, max_new_stages=1)
    m = wo.read_manifest(order)
    assert m["stages"]["tokens"]["status"] == wo.Status.STAGE_DONE
    assert m["stages"]["doclens"]["status"] == wo.Status.CREATED
    # finish the rest; final call flips ALL_DONE
    wo.run_order(spark, order)
    assert wo.read_manifest(order)["status"] == wo.Status.ALL_DONE


def test_cli_order_verbs(spark, tmp_path):
    from spcht_spark.cli import main

    wd = str(tmp_path / "runcli")
    rc = main(["create-order", wd, "--n-docs", "60", "--shard-span", "64"])
    assert rc == 0
    order = wo.WorkOrder(wd, "run1", [])
    assert wo.read_manifest(order)["status"] == wo.Status.CREATED
    rc = main(["advance-order", wd, "--n-docs", "60", "--shard-span", "64"])
    assert rc == 0
    m = wo.read_manifest(order)
    assert m["stages"]["ingest"]["status"] == wo.Status.STAGE_DONE
    assert m["stages"]["tokens"]["status"] == wo.Status.CREATED
    rc = main(["full-order", wd, "--n-docs", "60", "--shard-span", "64"])
    assert rc == 0
    assert wo.read_manifest(order)["status"] == wo.Status.ALL_DONE
    rc = main(["cleanup-order", wd])
    assert rc == 0
    assert wo.read_manifest(order)["status"] == wo.Status.CLEANED
    assert os.path.exists(os.path.join(wd, "blocks"))  # final kept
    assert not os.path.exists(os.path.join(wd, "ingest"))  # intermediate gone


def test_skew_histogram_bounds_hot_terms(spark, tmp_path):
    """The doc-range sharding invariant (SURVEY §7): no (term, shard)
    posting group — hot terms like '{' included — exceeds shard_span,
    and the persisted histogram proves it."""
    from spcht_spark.plans.indexer import skew_report

    wd = str(tmp_path / "runsk")
    span = 64
    order = index_order(wd, "rs", _source, shard_span=span, clock=FakeClock())
    idx = run_index_order(spark, order)
    rep = skew_report(spark, wd, span)
    assert rep["bounded"] is True
    assert 0 < rep["max_group_postings"] <= span
    assert sum(rep["histogram"].values()) > 0
    # cross-check the histogram against the blocks table directly
    from pyspark.sql import functions as F

    direct_max = (
        idx.blocks.groupBy("term", "shard")
        .agg(F.sum("n_docs").alias("p"))
        .agg(F.max("p"))
        .collect()[0][0]
    )
    assert direct_max == rep["max_group_postings"]
    # the hot term really is hot (fans out over shards, each bounded)
    hot = (
        idx.blocks.groupBy("term")
        .agg(F.sum("n_docs").alias("total"), F.countDistinct("shard").alias("n_shards"))
        .orderBy(F.desc("total"))
        .first()
    )
    assert hot["total"] > span  # hotter than one shard could hold
    assert hot["n_shards"] > 1  # …so it fanned out


def test_load_index_reads_jvm_manifest_as_arrow(spark, tmp_path):
    """'jvm' named the row-identical Catalyst twin of 'arrow'. Manifests
    that record it must still open, with term vectors re-tokenizing
    under 'arrow' instead of failing on an unknown tokenizer."""
    import json

    for name in ("doclens", "dictionary", "stats", "blocks"):
        spark.range(1).write.parquet(str(tmp_path / name))
    (tmp_path / "manifest.json").write_text(
        json.dumps({"params": {"tokenizer": "jvm"}})
    )
    assert load_index(spark, str(tmp_path)).tokenizer == "arrow"


def test_load_index_runs_no_spark_job(spark, tmp_path):
    """A committed index opens without a Spark job: each table's schema
    is read driver-side from its part files' footers, and equals the
    schema ``spark.read.parquet`` infers in a one-task job."""
    wd = str(tmp_path / "runl")
    run_index_order(spark, index_order(wd, "rl", _source, shard_span=64, clock=FakeClock()))
    sc = spark.sparkContext
    sc.setJobGroup("load-index-jobs", "load_index")
    try:
        idx = load_index(spark, wd)
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("load-index-jobs") == []
    for name in ("tokens", "doclens", "dictionary", "stats", "blocks"):
        want = spark.read.parquet(os.path.join(wd, name)).schema
        assert getattr(idx, name).schema == want, name


def test_read_committed_refuses_non_spark_parquet(spark, tmp_path):
    """The footer schema is Spark's own: an empty Spark frame still
    opens (Spark writes one schema-only part file), a pyarrow-written
    directory carries no Spark row schema and is refused."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    empty = spark.range(0).selectExpr("id AS doc_id", "'x' AS term")
    empty.write.parquet(str(tmp_path / "empty"))
    got = wo.read_committed(spark, str(tmp_path / "empty"))
    assert got.schema == spark.read.parquet(str(tmp_path / "empty")).schema
    assert got.count() == 0

    (tmp_path / "arrow").mkdir()
    pq.write_table(pa.table({"a": [1]}), str(tmp_path / "arrow" / "part-0.parquet"))
    with pytest.raises(ValueError, match="no Spark-written parquet part file"):
        wo.read_committed(spark, str(tmp_path / "arrow"))
