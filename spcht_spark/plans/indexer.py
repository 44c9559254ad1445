"""The index-build work order: ingest → tokens → doclens → stats →
blocks → dictionary → skew, each a checkpointed parquet stage with
lineage/metrics (the rebuild of the reference's --FullOrder ladder,
SURVEY.md §3.1, over the new engine's stages §3.4)."""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spcht_spark.corpus import check_sha256_invariant
from spcht_spark.index.build import (
    DEFAULT_SHARD_SPAN,
    IndexTables,
    build_blocks,
    build_doclens,
    build_stats,
    build_tokens,
    dictionary_from_blocks,
)
from spcht_spark.plans.workorder import (
    Stage,
    WorkOrder,
    create_order,
    read_committed,
    run_order,
)

FINAL_STAGES = {"doclens", "dictionary", "stats", "blocks", "skew"}


def skew_table(blocks: DataFrame) -> DataFrame:
    """Per-(term, shard) posting-group size histogram (SURVEY §7): the
    table that PROVES the doc-range sharding bounded the merge shuffle.
    One row per log2 bucket of group size: (log2_bucket, n_groups,
    max_postings). The global invariant — max_postings ≤ shard_span for
    every bucket, hot terms included — is what a plain groupBy(term)
    cannot give you at web scale."""
    groups = blocks.groupBy("term", "shard").agg(F.sum("n_docs").alias("postings"))
    bucket = F.ceil(F.log2(F.col("postings").cast("double"))).cast("int")
    return groups.groupBy(bucket.alias("log2_bucket")).agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.max("postings").alias("max_postings"),
    )


def skew_report(spark: SparkSession, workdir: str, shard_span: int) -> dict:
    """Driver-side rollup of the persisted skew stage."""
    skew = read_committed(spark, f"{workdir}/skew")
    rows = sorted(skew.collect(), key=lambda r: r["log2_bucket"])
    max_group = max((int(r["max_postings"]) for r in rows), default=0)
    return {
        "histogram": {int(r["log2_bucket"]): int(r["n_groups"]) for r in rows},
        "max_group_postings": max_group,
        "shard_span": shard_span,
        "bounded": max_group <= shard_span,
    }


def index_order(
    workdir: str,
    run_id: str,
    corpus_source: Callable[[SparkSession], DataFrame],
    tokenizer: str = "arrow",
    shard_span: int = DEFAULT_SHARD_SPAN,
    blocks_partitions: int | None = None,
    clock: Callable[[], float] = time.time,
    verify_sha256: bool = True,
    analyzer: str | None = None,
) -> WorkOrder:
    def ingest(spark: SparkSession, outs) -> DataFrame:
        df = corpus_source(spark)
        if verify_sha256:
            bad = check_sha256_invariant(df)
            if bad:
                raise ValueError(f"sha256 invariant violated on {bad} rows")
        return df

    def tokens(spark, outs):
        return build_tokens(outs["ingest"], tokenizer, analyzer=analyzer)

    def doclens(spark, outs):
        return build_doclens(outs["tokens"])

    def dictionary(spark, outs):
        # from the COMMITTED blocks stage, not a second full token
        # shuffle: df/cf ride the blocks' cf lane (value-identical
        # exact-int aggregation, see build.dictionary_from_blocks)
        return dictionary_from_blocks(outs["blocks"])

    def stats(spark, outs):
        return build_stats(outs["doclens"])

    def blocks(spark, outs):
        return build_blocks(outs["tokens"], shard_span=shard_span)

    def skew(spark, outs):
        return skew_table(outs["blocks"])

    stages = [
        Stage("ingest", ingest),
        Stage("tokens", tokens),
        Stage("doclens", doclens),
        Stage("stats", stats),
        # blocks sorted by term within partitions → parquet row-group
        # min/max stats prune the per-query `term IN (...)` scan.
        Stage(
            "blocks", blocks, sort_cols=["term", "shard", "block_seq"],
            repartition=blocks_partitions,
        ),
        # dictionary AFTER blocks: it aggregates the committed blocks
        # parquet (one token pass per build, SPIMI-style)
        Stage("dictionary", dictionary, sort_cols=["term"]),
        # group-size histogram persisted WITH the build: the skew
        # evidence ships as part of the index, not a post-hoc query
        Stage("skew", skew, repartition=1),
    ]
    return create_order(
        workdir, run_id, stages, clock,
        params={
            "shard_span": shard_span,
            "tokenizer": tokenizer,
            "analyzer": analyzer,
        },
    )


def run_index_order(spark: SparkSession, order: WorkOrder) -> IndexTables:
    outs = run_order(spark, order)
    return IndexTables(
        tokens=outs["tokens"],
        doclens=outs["doclens"],
        dictionary=outs["dictionary"],
        stats=outs["stats"],
        blocks=outs["blocks"],
        shard_span=order.params.get("shard_span"),
        analyzer=order.params.get("analyzer"),
        tokenizer=order.params.get("tokenizer"),
    )


def load_index(spark: SparkSession, workdir: str) -> IndexTables:
    """Open a committed index (resume-free read path). Build params
    (shard_span, analyzer) come from the manifest so the query side
    folds and shards exactly as the build did. Blocks of the old layout,
    which stored each block's bound at the build's avgdl instead of the
    ``imp_tf``/``imp_dl`` impacts lanes, raise ``ValueError``: rebuild
    the index."""
    import json
    import os

    rd = lambda s: read_committed(spark, f"{workdir}/{s}")
    params = {}
    mpath = os.path.join(workdir, "manifest.json")
    if os.path.exists(mpath):
        with open(mpath) as fh:
            params = json.load(fh).get("params", {})
    blocks = rd("blocks")
    if "tfs_bin" in blocks.columns and "imp_tf" not in blocks.columns:
        raise ValueError(
            f"{workdir}: blocks have no imp_tf/imp_dl impacts lanes (the old "
            "layout stored each block's bound at the build's avgdl); rebuild "
            "the index"
        )
    tokens_dir = os.path.join(workdir, "tokens")
    # 'jvm' named the Catalyst twin of 'arrow' (row-identical), now a
    # test oracle only: manifests that record it read as 'arrow'
    tokenizer = params.get("tokenizer")
    return IndexTables(
        tokens=rd("tokens") if os.path.exists(tokens_dir) else None,
        doclens=rd("doclens"),
        dictionary=rd("dictionary"),
        stats=rd("stats"),
        blocks=blocks,
        shard_span=params.get("shard_span"),
        analyzer=params.get("analyzer"),
        tokenizer="arrow" if tokenizer == "jvm" else tokenizer,
    )
