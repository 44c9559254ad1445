"""spcht_spark — a PySpark-native analytics engine with the capabilities of
jpkanter/Spcht (reference at /root/reference, read-only).

Two halves, mirroring the reference's architecture split (SURVEY.md):

1. ``spcht_spark.index`` — a from-scratch PySpark fulltext index + BM25
   query engine replacing Spcht's upstream Apache Solr dependency
   (reference issues queries at Spcht/Core/WorkOrder.py:693 and never
   implements retrieval itself).  SPIMI-style posting construction,
   salted term-hash shuffle for Zipfian skew, delta+varbyte compressed
   posting blocks with block-max scores, top-k BM25 via block-max WAND.

2. ``spcht_spark.descriptor`` — the Spcht Descriptor Format (per-record
   field→triple mapping engine, reference Spcht/Core/SpchtCore.py)
   re-expressed as a compile-once DataFrame select/explode pipeline:
   descriptor JSON → Column expression tree → Catalyst.

Plus ``spcht_spark.functions`` (large-scale training-data ops: dedup,
similarity search, text analysis), ``spcht_spark.sources`` (Solr-JSON
envelope parity, parquet/"Iceberg-style" catalog), ``spcht_spark.plans``
(work-order ladder: checkpointed stages, lineage + metrics, resume) and
``spcht_spark.streaming`` (incremental/watermark ingest).
"""

import os
import sys
import zipimport

__version__ = "0.1.0"


def _install_zip_invalidation_gate() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when its ``(st_mtime_ns, st_size)`` changed since that importer last
    read it.

    pyspark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task (``setup_spark_files``, pyspark/worker_util.py:144 in
    4.1.2). On CPython 3.11 and 3.12 each zipimporter then re-reads its
    whole archive directory: ~16 importers over the 1,328 entries of
    ``pyspark.zip``, 31-48 ms per task on a 4-core host, more with four
    workers at once. CPython 3.13 re-reads lazily, so the stdlib method
    is left alone there. Every engine UDF module imports this package
    inside the worker, which installs the gate there; installing twice is
    a no-op. An unchanged archive costs one ``stat`` per importer; an
    importer the gate has not seen yet re-reads once, as before."""
    if sys.version_info >= (3, 13):
        return
    stdlib = zipimport.zipimporter.invalidate_caches
    if getattr(stdlib, "_stat_gated", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or getattr(self, "_read_stamp", None) != stamp:
            stdlib(self)
            self._read_stamp = stamp

    invalidate_caches._stat_gated = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_install_zip_invalidation_gate()
