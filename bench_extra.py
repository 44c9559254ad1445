"""Extra benchmarks / profiling for the optimization round (guide §1).

NOT part of the driver contract — bench.py stays frozen. This harness:

* times each headline query in isolation (noop-equivalent: .collect() of
  page-sized results is the contract shape; the heavy index paths are
  additionally timed to a noop sink),
* counts the Spark JOBS each query submits (driver barriers — at
  page-of-10 scale serial job count, not scoring, dominates wall),
* dumps .explain("formatted") per query to plans/r06/,
* phase-times build_index (tokenize / doclens / dictionary / stats /
  blocks).

Usage: python bench_extra.py [query ...]   (default: all headline)
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPCHT_BENCH_RUNS.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spcht_spark import demo_queries  # noqa: E402
from spcht_spark.corpus import REFERENCE_QUERIES, generate_corpus  # noqa: E402
from spcht_spark.index.build import build_index  # noqa: E402
from spcht_spark.index.query import exact_topk  # noqa: E402
from spcht_spark.index.wand import wand_topk  # noqa: E402
from spcht_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "bm25_topk", "term_stats", "pricing_summary", "topk_orders_per_customer",
    "broadcast_dim_join", "exact_dedup", "quality_score", "cosine_topk",
    "index_boolean_topk", "index_facets", "index_search_request",
]

PLAN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r06")


def explain_formatted(df) -> str:
    jdf = df._jdf
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return jdf.queryExecution().explainString(mode)


def job_count(sc, group: str) -> int:
    return len(sc.statusTracker().getJobIdsForGroup(group))


def timed(spark, name, fn, runs=3, dump_plan=None):
    sc = spark.sparkContext
    walls, jobs = [], []
    for i in range(runs):
        group = f"probe-{name}-{i}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        df = fn()
        if df is not None:
            df.collect()
        walls.append(time.perf_counter() - t0)
        jobs.append(job_count(sc, group))
        sc.setJobGroup(None, None)
    if dump_plan:
        os.makedirs(PLAN_DIR, exist_ok=True)
        with open(os.path.join(PLAN_DIR, dump_plan), "w") as f:
            f.write(explain_formatted(fn()))
    return {"median": sorted(walls)[len(walls) // 2], "min": min(walls),
            "max": max(walls), "jobs": jobs[-1]}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    runs = int(os.environ.get("SPCHT_BENCH_RUNS", "3"))
    suffix = os.environ.get("SPCHT_PLAN_SUFFIX", "_before")
    only = set(sys.argv[1:])
    spark = get_spark("spcht_bench_extra", cores=cores, shuffle_partitions=cores)

    from pyspark.sql import functions as F

    spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    spark.range(1000).agg(F.sum("id")).collect()
    warm = build_index(spark, generate_corpus(spark, n_docs=128, partitions=8))
    wand_topk(spark, warm.blocks, warm.dictionary, warm.stats, REFERENCE_QUERIES[:2]).collect()
    demo_queries._persisted_index(spark, sf_dir)

    out: dict[str, dict] = {}
    for name in HEADLINE:
        if only and name not in only:
            continue
        fn = demo_queries.QUERIES[name]
        out[name] = timed(
            spark, name, lambda fn=fn: fn(spark, sf_dir), runs=runs,
            dump_plan=f"{name}{suffix}.txt",
        )
        print(name, json.dumps(out[name]), flush=True)

    if not only or {"index_build", "bm25_refqueries", "wand_refqueries"} & only:
        corpus = generate_corpus(spark, n_docs=4000, partitions=cores * 2).cache()
        corpus.count()

        idx_holder = {}

        def run_build():
            idx = build_index(spark, corpus)
            idx.blocks = idx.blocks.cache(); idx.doclens = idx.doclens.cache()
            idx.dictionary = idx.dictionary.cache(); idx.stats = idx.stats.cache()
            idx.blocks.count(); idx.doclens.count(); idx.dictionary.count(); idx.stats.count()
            idx_holder["idx"] = idx
            return None

        def build_and_swap():
            if idx_holder.get("idx") is not None:
                for t in (idx_holder["idx"].blocks, idx_holder["idx"].doclens,
                          idx_holder["idx"].dictionary, idx_holder["idx"].stats):
                    t.unpersist()
            run_build()
            return None

        out["index_build"] = timed(spark, "index_build", build_and_swap, runs=runs)
        print("index_build", json.dumps(out["index_build"]), flush=True)
        idx = idx_holder["idx"]
        out["bm25_refqueries"] = timed(
            spark, "bm25_refqueries",
            lambda: exact_topk(spark, idx.blocks, idx.doclens, idx.dictionary,
                               idx.stats, REFERENCE_QUERIES),
            runs=runs, dump_plan=f"bm25_refqueries{suffix}.txt",
        )
        print("bm25_refqueries", json.dumps(out["bm25_refqueries"]), flush=True)
        out["wand_refqueries"] = timed(
            spark, "wand_refqueries",
            lambda: wand_topk(spark, idx.blocks, idx.dictionary, idx.stats,
                              REFERENCE_QUERIES),
            runs=runs, dump_plan=f"wand_refqueries{suffix}.txt",
        )
        print("wand_refqueries", json.dumps(out["wand_refqueries"]), flush=True)

        # ---- build phase breakdown (last build's lineage re-run piecewise)
        from spcht_spark.index.build import (
            build_blocks, build_doclens, build_stats, build_tokens,
            dictionary_from_blocks,
        )

        phases = {}
        t0 = time.perf_counter()
        tokens = build_tokens(corpus).localCheckpoint()
        phases["tokens_ckpt"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        doclens = build_doclens(tokens)
        stats = build_stats(doclens)
        stats.collect()
        phases["stats_collect"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        blocks = build_blocks(tokens).localCheckpoint()
        phases["blocks_ckpt"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        dictionary_from_blocks(blocks).write.format("noop").mode("overwrite").save()
        phases["dictionary_noop"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        doclens.write.format("noop").mode("overwrite").save()
        phases["doclens_noop"] = time.perf_counter() - t0
        print("build_phases", json.dumps({k: round(v, 3) for k, v in phases.items()}), flush=True)

    print("TOTALS", json.dumps({k: round(v["median"], 3) for k, v in out.items()}))
    spark.stop()


if __name__ == "__main__":
    main()
