"""Incremental index maintenance: merge a document delta into a built
index without re-tokenizing the corpus.

Reference parity: the flagship ``update`` work order is delta-fetch →
delete-matching-subjects → re-insert
(/root/reference/Spcht/Core/WorkOrder.py:702-707, 875-942) — the
reference delegates the index side of that to Solr's own incremental
commit; here the engine IS the index, so the merge is explicit.

One delta path; its only inputs are the index and the delta:

* The build parameters come from the index: the shard span, tokenizer
  and analyzer recorded on the :class:`IndexTables` handle
  (``load_index`` reads the manifest). An index that records no span or
  tokenizer is refused, never given a default — a delta sharded or
  tokenized unlike its index would corrupt it silently. Positional
  indexes (a ``pos_bin`` lane) are refused too: the delta path encodes
  no positions, so they are rebuilt instead.
* Old postings always come from the blocks: doc → shard is a pure
  function, so the touched ids' covering blocks (shard equi-join +
  first_doc/last_doc prune on block metadata) decode to the removed
  postings. No tokens table is read or kept; :func:`apply_update`
  deletes a retained ``tokens`` stage, which would otherwise go stale.
* One barrier per delta: the tagged ids and the removed and added
  postings are one checkpointed frame; all after it, the delta counts
  :func:`apply_update` records included, are lazy projections of it.
* Only (term, shard) posting groups touched by the delta are rebuilt
  (the 100 TB case: a full rebuild per delta is not viable). With
  doc-range sharding a changed doc lives in exactly one shard, so
  the touched set is ``distinct(term, shard)`` over the doc's old + new
  tokens — for a 10k-doc delta that is ≈ 10k × avg-unique-terms groups
  out of billions, and rebuilding a group costs one bounded
  applyInPandas task (group ≤ shard_span docs).
* Untouched groups flow into the new blocks unchanged, every column
  byte for byte: a block stores its competitive impacts, not a bound
  at the corpus avgdl, so the avgdl the delta shifts touches no block
  (queries compute the bound from their own avgdl). Nothing decodes,
  re-encodes or even reads the untouched blocks' lanes.
* The commit (:func:`apply_update`) computes the new blocks ONCE: the
  ``blocks.new`` write runs the lazy plan (touched-group decode, encode
  shuffle) and the ``skew`` histogram is aggregated
  from the written ``blocks.new`` parquet — the same column-pruned
  aggregate the build ladder's skew stage runs over its committed
  blocks — instead of evaluating that plan a second time.
* The dictionary merges one signed aggregate of the removed (−1) and
  added (+1) postings (exact integer arithmetic) instead of
  re-aggregating the full token table; stats re-aggregate doclens
  (one narrow map-side-partial agg, lazy: the update collects nothing).

Equivalence contract (pinned in tests/test_index_update.py): for any
delta, ``update_index(build_index(base), delta)`` equals
``build_index(final)`` bit-for-bit on doclens, dictionary, stats and
blocks — including the varbyte binaries and the impacts lanes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spcht_spark.index.build import (
    IndexTables,
    build_blocks,
    build_doclens,
    build_stats,
    build_tokens,
)


def _shard(col, shard_span: int):
    return (col / F.lit(int(shard_span))).cast("long")


def dictionary_delta(old_dictionary: DataFrame, postings: DataFrame) -> DataFrame:
    """Merge the delta's signed postings (``term``, ``tf``, ``sign``: −1
    removed, +1 added) into the dictionary: one ``groupBy("term")``
    gives d_df = Σ sign and d_cf = Σ sign·tf (exact ints).

    Terms whose df drops to 0 vanish (as in a rebuild); brand-new terms
    appear. One narrow shuffle over the DELTA terms, never the corpus."""
    delta = postings.groupBy("term").agg(
        F.sum("sign").alias("d_df"), F.sum(F.col("sign") * F.col("tf")).alias("d_cf")
    )
    return (
        old_dictionary.select("term", "df", "cf")
        .join(delta, "term", "full")
        .select(
            "term",
            (F.coalesce("df", F.lit(0)) + F.coalesce("d_df", F.lit(0))).alias("df"),
            (F.coalesce("cf", F.lit(0)) + F.coalesce("d_cf", F.lit(0))).alias("cf"),
        )
        .filter(F.col("df") > 0)
        .withColumn("term_hash", F.xxhash64("term"))
    )


def _build_params(idx: IndexTables) -> tuple[int, str]:
    """(shard_span, tokenizer) the index was built with — a delta must
    shard and tokenize exactly as the build did."""
    for name in ("shard_span", "tokenizer"):
        if getattr(idx, name) is None:
            raise ValueError(
                f"index records no {name}: update an index opened with "
                "load_index or returned by build_index"
            )
    if "pos_bin" in idx.blocks.columns:
        raise ValueError(
            "positional index cannot be updated in place: rebuild it with "
            "build_positional_index over the final corpus"
        )
    return int(idx.shard_span), idx.tokenizer


def update_index(
    spark: SparkSession,
    idx: IndexTables,
    changed: DataFrame,
    deleted: DataFrame | None = None,
) -> IndexTables:
    """Merge a delta into ``idx``: ``changed`` (doc_id, content) upserts
    docs (new or re-written ids), ``deleted`` (doc_id) removes them.
    Returns new IndexTables (``tokens=None``); persistence is
    :func:`apply_update`.

    Reference semantics: delete-then-reinsert per incoming doc
    (WorkOrder.py:875-942) — a changed doc's old postings are purged
    before its new ones land, so re-sending an identical doc is
    idempotent. The removed postings are decoded from the touched ids'
    covering blocks, and the rebuilt (term, shard) groups from their
    own blocks — same rows a from-scratch tokenize would give."""
    return _update(idx, changed, deleted)[0]


def _update(
    idx: IndexTables, changed: DataFrame, deleted: DataFrame | None
) -> tuple[IndexTables, DataFrame]:
    """(updated tables, the checkpointed delta frame whose ``part``
    column tags each row changed/deleted id or removed/added posting)."""
    from spcht_spark.index.query import decode_blocks

    shard_span, tokenizer = _build_params(idx)
    changed = changed.select("doc_id", "content")
    ids = changed.selectExpr("'changed' AS part", "doc_id")
    if deleted is not None:
        ids = ids.unionByName(deleted.selectExpr("'deleted' AS part", "doc_id"))

    # Old postings of every touched doc — these leave the index (and
    # their (term, shard) groups must be rebuilt).
    spans = ids.groupBy(
        _shard(F.col("doc_id"), shard_span).alias("shard")
    ).agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
    covering = (
        idx.blocks.join(F.broadcast(spans), "shard")
        .filter((F.col("last_doc") >= F.col("lo")) & (F.col("first_doc") <= F.col("hi")))
    )
    cols = ["doc_id", "term", "tf", "dl"]
    removed = decode_blocks(covering).join(ids, "doc_id", "semi")
    added = build_tokens(changed, tokenizer, analyzer=idx.analyzer)
    delta = (
        ids.unionByName(
            removed.selectExpr("'removed' AS part", *cols), allowMissingColumns=True
        )
        .unionByName(added.selectExpr("'added' AS part", *cols))
        .localCheckpoint()
    )

    part = F.col("part")
    touched_ids = delta.where(part.isin("changed", "deleted")).select("doc_id")
    added_tokens = delta.where(part == "added").select(*cols)
    postings = delta.where(part.isin("removed", "added"))
    new_doclens = (
        idx.doclens.join(touched_ids, "doc_id", "anti")
        .unionByName(build_doclens(added_tokens))
    )
    sign = F.when(part == "added", 1).otherwise(-1).alias("sign")
    new_dictionary = dictionary_delta(idx.dictionary, postings.select("term", "tf", sign))

    # Rebuild ONLY the touched groups, from the full updated postings of
    # those groups (untouched docs' postings for a touched term+shard
    # included — they re-block with the new docs interleaved).
    touched_keys = postings.select("term", _shard(F.col("doc_id"), shard_span).alias("shard"))
    group_blocks = idx.blocks.join(touched_keys, ["term", "shard"], "semi")
    old_group = decode_blocks(group_blocks).join(touched_ids, "doc_id", "anti")
    touched_tokens = old_group.select(*cols).unionByName(added_tokens)
    rebuilt = build_blocks(touched_tokens, shard_span=shard_span)
    untouched = idx.blocks.join(touched_keys, ["term", "shard"], "anti")

    return IndexTables(
        tokens=None,
        doclens=new_doclens,
        dictionary=new_dictionary,
        stats=build_stats(new_doclens),
        blocks=untouched.unionByName(rebuilt),
        shard_span=shard_span,
        analyzer=idx.analyzer,
        tokenizer=tokenizer,
    ), delta


def apply_update(
    spark: SparkSession,
    workdir: str,
    changed: DataFrame,
    deleted: DataFrame | None = None,
    *,
    shard_span: int | None = None,
    run_id: str = "update",
) -> IndexTables:
    """Update a COMMITTED index in place (atomic per stage).

    The build parameters come from the index's manifest; ``shard_span``
    is only a check — a value that differs from the recorded span
    raises ``ValueError``.

    Every updated stage is written to ``<stage>.new`` first — while the
    old files still back the lazy update plan; ``skew.new`` last, from
    the written ``blocks.new`` — then the directories are swapped only
    after all writes succeed, a retained ``tokens`` stage is deleted
    (it would describe the old corpus), and the update is recorded in
    the work-order manifest (lineage: the updates list carries run_id
    and delta sizes). A crash mid-write leaves the committed index
    intact; a crash mid-swap or before the tokens removal is repaired by
    re-running the same update (idempotent: delete-then-reinsert)."""
    import json
    import os
    import shutil
    import time

    from spcht_spark.plans.indexer import load_index, skew_table
    from spcht_spark.plans.workorder import read_committed

    idx = load_index(spark, workdir)
    if shard_span is not None and shard_span != idx.shard_span:
        raise ValueError(
            f"shard_span={shard_span} does not match the index's recorded "
            f"shard_span={idx.shard_span}"
        )
    new, delta = _update(idx, changed, deleted)
    ids = delta.where(F.col("part").isin("changed", "deleted"))
    sizes = dict(ids.groupBy("part").count().collect())

    stages = {
        "doclens": new.doclens,
        "dictionary": new.dictionary.sortWithinPartitions("term"),
        "stats": new.stats,
        "blocks": new.blocks.sortWithinPartitions("term", "shard", "block_seq"),
    }
    for name, df in stages.items():
        df.write.mode("overwrite").parquet(os.path.join(workdir, f"{name}.new"))
    # skew from the WRITTEN blocks, not a second run of the lazy
    # new-blocks plan (decode, encode shuffle)
    skew = skew_table(read_committed(spark, os.path.join(workdir, "blocks.new")))
    skew.repartition(1).write.mode("overwrite").parquet(
        os.path.join(workdir, "skew.new")
    )
    for name in [*stages, "skew"]:
        old_dir = os.path.join(workdir, name)
        if os.path.exists(old_dir):
            shutil.rmtree(old_dir)
        os.replace(os.path.join(workdir, f"{name}.new"), old_dir)
    shutil.rmtree(os.path.join(workdir, "tokens"), ignore_errors=True)

    manifest_path = os.path.join(workdir, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            m = json.load(fh)
        m.setdefault("updates", []).append(
            {"run_id": run_id, "changed": sizes.get("changed", 0),
             "deleted": sizes.get("deleted", 0), "at": time.time()}
        )
        tmp = manifest_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(m, fh, indent=1, sort_keys=True)
        os.replace(tmp, manifest_path)
    return load_index(spark, workdir)


def delete_by_query(
    spark: SparkSession,
    idx: IndexTables,
    q: str,
    attrs: DataFrame | None = None,
) -> IndexTables:
    """Solr ``<delete><query>q</query></delete>`` — resolve the boolean
    ``q`` (full engine language: terms, AND/OR/NOT, ``field:value`` /
    ranges with ``attrs``) to its matching doc set and purge those docs
    through the same delta path as id-deletes (:func:`update_index`
    with an empty upsert batch), so corpus stats (N, avgdl), doclens,
    dictionary dfs, and every touched (term, shard) block group rebuild
    exactly as a from-scratch index without the docs would
    (tests/test_index_update.py pins that bit-identity for deltas).

    The matching set never collects to the driver: it flows as a
    (doc_id) frame from :func:`~spcht_spark.index.boolean.
    boolean_matches` straight into the delta join.  Reference
    capability: Solr update handler delete-by-query, the maintenance
    twin of the reference's delete-then-reinsert loop
    (WorkOrder.py:875-942)."""
    from spcht_spark.index.boolean import boolean_matches

    matched = boolean_matches(
        spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats,
        [("dq", q, 0)], attrs=attrs, analyzer=idx.analyzer,
    ).select("doc_id").distinct()
    empty = spark.createDataFrame([], schema="doc_id long, content string")
    return update_index(spark, idx, empty, deleted=matched)
