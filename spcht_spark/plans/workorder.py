"""Resumable work orders: stage ladder, manifest, lineage + metrics.

Reference parity (SURVEY.md §2.10):

* W1 CreateWorkOrder (WorkOrder.py:587-632)  → :func:`create_order`
* W2 status ladder 0-9, even=stable/odd=in-flight
  (SpchtConstants.py:30-39)                  → :data:`Status` + manifest
* W3 transactional update with monotonic check (WorkOrder.py:50-106)
  → :func:`_update_manifest` (tmp-file + os.replace, monotonic status)
* W4/W5 soft/hard resume (WorkOrder.py:1263-1399) → :func:`run_order`
  skips stages whose parquet committed (`_SUCCESS` + manifest even
  status); a stage dir without both is torn down and re-run
* W7 cleanup (WorkOrder.py:1193-1260)        → :func:`cleanup_order`
* file_list per-chunk bookkeeping (WorkOrder.py:739-743, 848-855)
  → per-partition lineage rows in ``<workdir>/metrics`` parquet

The Spark translation of "chunk" is the output partition: each stage
records (run_id, stage, partition_id, rows_out) plus stage-level bytes
and timings. Resume = idempotent re-run; completed stages are never
recomputed, which is what makes a 10^12-file build restartable after
any failure without redoing finished shuffles.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import time
import weakref
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


class Status:
    """Ladder semantics mirroring WORK_ORDER_STATUS (even=stable)."""

    CREATED = 0
    STAGE_RUNNING = 1  # odd: in-flight
    STAGE_DONE = 2     # per-stage terminal (stable)
    ALL_DONE = 8
    CLEANED = 9


@dataclass
class Stage:
    name: str
    build: Callable[[SparkSession, dict[str, DataFrame]], DataFrame]
    # columns to sort within partitions before write (parquet min/max
    # stats → row-group pruning for point lookups, e.g. term filters)
    sort_cols: list[str] = field(default_factory=list)
    repartition: int | list | None = None


@dataclass
class WorkOrder:
    workdir: str
    run_id: str
    stages: list[Stage]
    clock: Callable[[], float] = time.time  # injectable (FIXTURES.md F3)
    # build parameters recorded in the manifest (e.g. shard_span,
    # tokenizer, analyzer) so a reader of the committed artifact knows
    # how to query it — query-time folding MUST match the build's.
    params: dict = field(default_factory=dict)

    @property
    def manifest_path(self) -> str:
        return os.path.join(self.workdir, "manifest.json")

    def stage_dir(self, stage: str) -> str:
        return os.path.join(self.workdir, stage)


def create_order(
    workdir: str,
    run_id: str,
    stages: list[Stage],
    clock: Callable[[], float] = time.time,
    params: dict | None = None,
) -> WorkOrder:
    """W1: init manifest at status CREATED (never overwrites an existing
    order — that is what resume is for)."""
    os.makedirs(workdir, exist_ok=True)
    order = WorkOrder(workdir, run_id, stages, clock, params or {})
    if not os.path.exists(order.manifest_path):
        _write_manifest(
            order,
            {
                "run_id": run_id,
                "status": Status.CREATED,
                "params": order.params,
                "stages": {s.name: {"status": Status.CREATED} for s in stages},
            },
        )
    return order


def read_manifest(order: WorkOrder) -> dict:
    with open(order.manifest_path) as fh:
        return json.load(fh)


def _write_manifest(order: WorkOrder, manifest: dict) -> None:
    tmp = order.manifest_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    os.replace(tmp, order.manifest_path)  # atomic (W3)


def _update_manifest(
    order: WorkOrder, stage: str, status: int, force: bool = False, **extra
) -> None:
    m = read_manifest(order)
    prev = m["stages"].get(stage, {}).get("status", Status.CREATED)
    if status < prev and prev % 2 == 0 and not force:
        # Monotonic-status check (WorkOrder.py:82-90 parity): never move a
        # stable stage backwards — except an explicit hard reset (W5),
        # which run_order issues when a "done" stage's output is missing.
        raise ValueError(f"stage {stage}: status regression {prev} -> {status}")
    m["stages"][stage] = {"status": status, **extra}
    _write_manifest(order, m)


def _stage_complete(order: WorkOrder, stage: str) -> bool:
    sdir = order.stage_dir(stage)
    if not os.path.exists(os.path.join(sdir, "_SUCCESS")):
        return False
    m = read_manifest(order)
    st = m["stages"].get(stage, {}).get("status", Status.CREATED)
    return st == Status.STAGE_DONE


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _part_files(sdir: str) -> list[str]:
    """The stage's data files, in part-file (write partition) order."""
    return sorted(
        f for f in os.listdir(sdir)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def _partition_rows(sdir: str) -> tuple[list[tuple[int, int]], int]:
    """Per-output-partition row counts + total, read DRIVER-SIDE from
    the committed parquet footers (pyarrow) — no Spark job. The previous
    implementation re-scanned the whole stage output
    (``groupBy(spark_partition_id()).count()``), which at 10^12 files is
    a second full pass over the largest tables (tokens, blocks) per
    stage; footers carry the exact counts for free. Partition id =
    part-file ordinal, i.e. the WRITE partition (what lineage means),
    where the re-scan reported read-split ids."""
    import pyarrow.parquet as pq

    per = [
        (pid, pq.ParquetFile(os.path.join(sdir, f)).metadata.num_rows)
        for pid, f in enumerate(_part_files(sdir))
    ]
    return per, sum(n for _, n in per)


# frame returned by read_committed → the part files it reads; an entry
# lives as long as its frame (a derived frame is a new object: not here)
_COMMITTED_FILES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def read_committed(spark: SparkSession, sdir: str) -> DataFrame:
    """Open a parquet directory Spark committed, without a Spark job.

    ``spark.read.parquet`` infers the schema in a one-task job that
    reads a footer on an executor; the Spark row schema Spark wrote
    into every part file's footer
    (``org.apache.spark.sql.parquet.row.metadata``) is read here
    driver-side instead (pyarrow, as :func:`_partition_rows` does) and
    passed to ``spark.read.schema``. A directory with no part file
    carrying that key was not written by Spark and is refused.

    The returned frame's part files are recorded
    (:func:`committed_files`), so a small table behind it can be read
    on the driver with pyarrow instead of by a Spark job
    (:func:`~spcht_spark.index.query.stats_and_idfs`)."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    files = _part_files(sdir)
    meta = pq.read_metadata(os.path.join(sdir, files[0])).metadata if files else None
    raw = (meta or {}).get(b"org.apache.spark.sql.parquet.row.metadata")
    if raw is None:
        raise ValueError(f"{sdir}: no Spark-written parquet part file")
    out = spark.read.schema(StructType.fromJson(json.loads(raw))).parquet(sdir)
    _COMMITTED_FILES[out] = tuple(os.path.join(sdir, f) for f in files)
    return out


def committed_files(df: DataFrame) -> tuple[str, ...] | None:
    """The part files a frame returned by :func:`read_committed` reads,
    or None for any other frame (built in memory, or derived)."""
    return _COMMITTED_FILES.get(df)


@functools.cache
def _metrics_schema():
    """The metrics table's one schema (pyarrow): :func:`_append_metrics`
    writes it and :func:`metrics` reads with it."""
    import pyarrow as pa

    return pa.schema(
        [
            pa.field("run_id", pa.string()),
            pa.field("stage", pa.string()),
            pa.field("partition_id", pa.int64()),
            pa.field("status", pa.int64()),
            pa.field("rows_out", pa.int64()),
            pa.field("bytes_out", pa.int64()),
            pa.field("started_at", pa.float64()),
            pa.field("finished_at", pa.float64()),
        ]
    )


def _append_metrics(order: WorkOrder, spark: SparkSession, rows: list[tuple]) -> None:
    """Append lineage rows to <workdir>/metrics driver-side (one small
    pyarrow file per stage, in :func:`_metrics_schema`). Appending a
    file is atomic enough for resume: a torn metrics write never gates
    stage completion (the manifest does)."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    mdir = os.path.join(order.workdir, "metrics")
    os.makedirs(mdir, exist_ok=True)
    schema = _metrics_schema()
    table = pa.table(
        {name: list(vals) for name, vals in zip(schema.names, zip(*rows))},
        schema=schema,
    )
    pq.write_table(table, os.path.join(mdir, f"part-{uuid.uuid4().hex}.parquet"))


def run_order(
    spark: SparkSession,
    order: WorkOrder,
    inputs: dict[str, DataFrame] | None = None,
    max_new_stages: int | None = None,
) -> dict[str, DataFrame]:
    """Run/resume every stage in order; returns stage-name → DataFrame
    (reading the committed parquet — downstream stages consume these, so
    a resumed run never recomputes upstream lineage).

    ``max_new_stages`` bounds how many INCOMPLETE stages this call
    executes (HandleWorkOrder parity: the reference advances an order
    one status step per invocation); the order is only marked ALL_DONE
    when every stage has completed."""
    outputs: dict[str, DataFrame] = dict(inputs or {})
    ran = 0
    for stage in order.stages:
        sdir = order.stage_dir(stage.name)
        if _stage_complete(order, stage.name):
            outputs[stage.name] = read_committed(spark, sdir)
            continue
        if max_new_stages is not None and ran >= max_new_stages:
            return outputs
        ran += 1
        if os.path.exists(sdir):
            shutil.rmtree(sdir)  # W5: torn/partial stage → hard reset
        started = order.clock()
        # force: a stage can be marked DONE in the manifest yet have lost
        # its output (operator deleted it / partial copy) — hard reset.
        _update_manifest(
            order, stage.name, Status.STAGE_RUNNING, force=True, started_at=started
        )
        df = stage.build(spark, outputs)
        if stage.repartition is not None:
            df = (
                df.repartition(stage.repartition)
                if isinstance(stage.repartition, int)
                else df.repartition(*stage.repartition)
            )
        if stage.sort_cols:
            df = df.sortWithinPartitions(*stage.sort_cols)
        df.write.mode("overwrite").parquet(sdir)
        out = read_committed(spark, sdir)
        # Per-partition lineage (file_list parity): rows per output
        # partition, from the parquet footers — no re-scan job.
        per_part, total = _partition_rows(sdir)
        finished = order.clock()
        rows = [
            (order.run_id, stage.name, pid, Status.STAGE_DONE,
             n, -1, float(started), float(finished))
            for pid, n in per_part
        ]
        rows.append(
            (order.run_id, stage.name, -1, Status.STAGE_DONE, total,
             _dir_bytes(sdir), float(started), float(finished))
        )
        _append_metrics(order, spark, rows)
        _update_manifest(
            order, stage.name, Status.STAGE_DONE,
            started_at=started, finished_at=finished, rows=total,
        )
        outputs[stage.name] = out
    m = read_manifest(order)
    m["status"] = Status.ALL_DONE
    _write_manifest(order, m)
    return outputs


def metrics(order: WorkOrder, spark: SparkSession) -> DataFrame:
    """The lineage rows of every stage run. The directory is written by
    pyarrow, so its footers carry no Spark row schema for
    :func:`read_committed`; the fixed schema spares Spark's one-job
    schema inference."""
    from pyspark.sql.pandas.types import from_arrow_schema

    return spark.read.schema(from_arrow_schema(_metrics_schema())).parquet(
        os.path.join(order.workdir, "metrics")
    )


def check_order(order: WorkOrder, spark: SparkSession) -> dict:
    """A1 parity (CheckWorkOrder, WorkOrder.py:210-338): rollup of the
    metrics table — totals, per-stage timings, unfinished stages."""
    if not os.path.exists(order.manifest_path):
        raise FileNotFoundError(f"no work order at {order.workdir} (missing manifest.json)")
    m = read_manifest(order)
    # A re-run stage has several stage-level rows; report the latest
    # attempt only (resume would double-count under a plain sum).
    agg = (
        metrics(order, spark)
        .filter(F.col("partition_id") == -1)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("stage").orderBy(F.desc("finished_at"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select("stage", "rows_out", "bytes_out", "started_at", "finished_at")
        .collect()
    )
    return {
        "run_id": m["run_id"],
        "status": m["status"],
        "stages": {
            r["stage"]: {
                "rows_out": int(r["rows_out"]),
                "bytes_out": int(r["bytes_out"]),
                "seconds": round(float(r["finished_at"]) - float(r["started_at"]), 3),
            }
            for r in agg
        },
        "unfinished": [
            s.name for s in order.stages
            if m["stages"].get(s.name, {}).get("status") != Status.STAGE_DONE
        ],
    }


def cleanup_order(order: WorkOrder, keep: set[str] | None = None) -> None:
    """W7: drop intermediate stage outputs, keep the named finals."""
    keep = keep or set()
    for s in order.stages:
        if s.name not in keep:
            sdir = order.stage_dir(s.name)
            if os.path.exists(sdir):
                shutil.rmtree(sdir)
    m = read_manifest(order)
    m["status"] = Status.CLEANED
    _write_manifest(order, m)
