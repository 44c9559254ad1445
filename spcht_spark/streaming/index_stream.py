"""Streaming index maintenance: a Structured Streaming source of
document upserts/deletes drives the committed index's incremental merge.

Reference parity: the reference's ``update`` work order is a POLLING
loop — re-query Solr for ``last_indexed:[t TO *]``, delete matching
subjects, re-insert (/root/reference/Spcht/Core/WorkOrder.py:702-707,
875-942), re-run per schedule. The Spark-first shape is the same
pipeline as a STREAM: ``readStream`` over the delta feed →
``foreachBatch`` applying :func:`spcht_spark.index.update.apply_update`
— each micro-batch is one atomic delta merge, and the engine's
byte-identity contract (update == full rebuild, pinned in
tests/test_index_update.py) makes the result independent of how the
stream happened to batch the same rows.

Why foreachBatch and not a custom stateful operator: the index merge is
a BATCH computation over (delta × committed parquet index) — exactly
what foreachBatch provides (the micro-batch as a DataFrame plus full
batch-API access), while arbitrary stateful streaming would force the
posting state through the state store, which cannot hold a 10^12-doc
index. This is the standard Spark pattern for streaming-upserts-into-
a-table (foreachBatch + MERGE in the Delta/Iceberg docs).

Exactly-once: apply_update is idempotent (delete-then-reinsert per
doc), so a replayed micro-batch after a crash re-converges to the same
bytes; the batch id recorded per merge in the work-order manifest makes
replays observable.

The sink takes no build parameters: every merge reads the shard span,
tokenizer and analyzer from the committed index's manifest, so a stream
can never shard or tokenize a batch unlike the index it feeds.

Delta feed contract (the poll-diff CDC output shape,
spcht_spark.streaming.incremental): rows ``(doc_id long, content
string, op string)`` with op ∈ {'upsert', 'delete'}.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def apply_delta_batch(workdir: str, batch: DataFrame, batch_id: int) -> None:
    """Merge one micro-batch of (doc_id, content, op) rows into the
    committed index at ``workdir`` — the foreachBatch body; the build
    parameters come from the index (:func:`apply_update`).

    Within one batch an upsert wins over a delete for the same doc
    (apply_update deletes old postings before re-inserting anyway);
    duplicate upserts of one doc resolve deterministically (max
    content) — feeds with a real sequence column should pre-dedup
    upstream."""
    spark = batch.sparkSession
    batch = batch.localCheckpoint()  # one pass feeds both splits
    if not batch.take(1):
        return  # empty micro-batch: skip the stage rewrite entirely
    changed = (
        batch.filter(F.col("op") == "upsert")
        .groupBy("doc_id")
        .agg(F.max("content").alias("content"))
    )
    deleted = (
        batch.filter(F.col("op") == "delete")
        .select("doc_id")
        .distinct()
        .join(changed.select("doc_id"), "doc_id", "anti")
    )
    from spcht_spark.index.update import apply_update

    apply_update(spark, workdir, changed, deleted, run_id=f"stream-batch-{batch_id}")


def stream_index_updates(
    deltas: DataFrame,
    workdir: str,
    checkpoint_dir: str,
    trigger_once: bool = True,
):
    """Attach the index-merge sink to a streaming deltas DataFrame
    (``spark.readStream...`` with columns doc_id/content/op) and start
    the query. ``trigger_once`` processes the available backlog and
    stops — the streaming twin of one reference ``update`` order run;
    pass False for a continuously-running maintainer."""
    writer = (
        deltas.writeStream.foreachBatch(
            lambda b, bid: apply_delta_batch(workdir, b, bid)
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
