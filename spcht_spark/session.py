"""SparkSession factory.

Local-mode sandbox (single JVM, N threads), but every config here is
chosen to survive a multi-executor cluster: AQE on (runtime skew-join +
partition coalescing), Arrow on (all Python UDFs are vectorized), shuffle
partitions sized to parallelism rather than the 200 default.

The JVM talks to its Python workers over a Unix domain socket, not TCP
loopback. On loopback a worker waited ~40 ms for its first Arrow batch
of every task — the delayed-ACK stall of a small write followed by a
read — and every pandas/Arrow UDF task paid it whatever its input. UDS
mode skips pyspark's per-connection secret handshake and relies on file
permissions instead. A socket file takes its mode from the process
umask, so in the shared default ``/tmp`` a permissive umask would let
any local user connect and drive a worker; the sockets live in a
private (0700) directory made per SparkContext instead.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

# pyspark's daemon binds ``<dir>/.<uuid4>.sock``: 43 bytes after the
# directory, and a socket path has at most 107 bytes (sun_path less NUL).
_UDS_NAME_BYTES = 43
_UDS_PATH_MAX = 107


def shuffle_parallelism(spark: SparkSession) -> int:
    """``spark.sql.shuffle.partitions`` as an int, for the explicit
    keyed repartitions that pin compute-heavy Python stages.

    Some deployments set the conf to a non-integer such as ``"auto"``
    (AQE picks the count at runtime); an explicit ``REPARTITION(n, ...)``
    needs a number, so those fall back to the scheduler's
    ``defaultParallelism``."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return int(spark.sparkContext.defaultParallelism)


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Half of the host's MemTotal as a ``spark.driver.memory`` value
    (whole GiB, at least 1g). In local mode the driver heap is all the
    executor memory there is; the other half stays with the Python
    workers and the OS. Where ``meminfo`` cannot be read (no procfs),
    Spark's own default, 1g."""
    try:
        with open(meminfo) as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    kib = int(line.split()[1])
                    return f"{max(1, kib // 2 // (1 << 20))}g"
    except OSError:
        pass
    return "1g"


def private_socket_dir() -> str:
    """A fresh 0700 directory for the worker sockets, removed at exit.

    ``mkdtemp`` creates it 0700 whatever the umask. Under a temp root
    too long for the socket path limit it falls back to ``/tmp``."""
    root = tempfile.gettempdir()
    if len(os.path.join(root, "spcht-uds-xxxxxxxx")) + _UDS_NAME_BYTES > _UDS_PATH_MAX:
        root = "/tmp"
    path = tempfile.mkdtemp(prefix="spcht-uds-", dir=root)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def get_spark(
    app_name: str = "spcht_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all local cores. Shuffle
    partitions default to ``cores`` — on a real cluster this would be
    2-3x total executor cores; AQE coalesces the excess either way.
    """
    # Arrow's default jemalloc pool madvises huge pages, which on this
    # memcg-accounted VM turns first-touch page faults into a kernel-CPU
    # storm (measured 3× slower tokenize). mimalloc avoids it. Must be
    # set before the JVM (and its python workers) start.
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "mimalloc")
    # glibc (numpy/pandas buffers) has the same disease, much worse: any
    # allocation over M_MMAP_THRESHOLD is mmap'd fresh and munmap'd on
    # free, so EVERY big numpy temp re-faults its pages — measured
    # ~1 ms/page here, i.e. 38 s to multiply an 18M-element array.
    # Raising the mmap/trim thresholds keeps big buffers on the reused
    # heap: first batch pays the faults once, the rest run at memory
    # speed (0.06 s for the same multiply). Env vars cover the python
    # WORKER processes (they read them at startup); mallopt below covers
    # THIS process, whose glibc already started.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(1 << 32))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(1 << 32))
    try:
        import ctypes

        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        libc.mallopt(ctypes.c_int(-3), ctypes.c_int(1 << 30))  # M_MMAP_THRESHOLD
        libc.mallopt(ctypes.c_int(-1), ctypes.c_int(1 << 30))  # M_TRIM_THRESHOLD
    except Exception:  # noqa: BLE001 — non-glibc platforms: tunables are moot
        pass
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = cores
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # local mode: driver heap IS executor memory; undersizing it
        # turns cached/checkpointed intermediates into GC storms (a 24g
        # heap made a 48k-doc build 3x slower at 8 cores than at 2)
        .config(
            "spark.driver.memory",
            os.environ.get("SPCHT_SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 2048, not the 10000 default-ish value used previously: large
        # Arrow batches make every UDF allocation proportionally large,
        # and on this memcg-accounted VM big fresh allocations hit a
        # superlinear page-fault cliff (measured: the SAME tokenize job
        # over 384k docs ran 260 s at batch 10000 vs 52 s at batch 2048
        # on 8 pinned cores, and 2→8-core scaling went from negative to
        # 0.8+). Smaller batches also bound worker memory for wide rows.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # Dense small-corpus parquet (hundreds of MB in a handful of
        # row groups) coalesces to fewer splits than cores at the 128m
        # default, starving every scan-rooted stage of tasks (measured:
        # a 243 MB corpus read as ~4 splits → tokenize ran 4 tasks on 8
        # cores). Finer splits cost nothing at 100 TB — scans there
        # have orders of magnitude more splits than cores either way.
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.files.openCostInBytes", "1m")
        # v2 commit: tasks move outputs to the final dir at task commit;
        # job commit is O(1) instead of a sequential driver-side rename
        # of every part file. Right for local fs/HDFS (this target); an
        # object store would use a cloud committer instead.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.ui.enabled", "false")
    )
    # Static confs: they only take effect with a new context, so an
    # existing one gets no new socket dir (see the module docstring for
    # why the dir is private).
    if SparkContext._active_spark_context is None:
        builder = builder.config("spark.python.unix.domain.socket.enabled", "true").config(
            "spark.python.unix.domain.socket.dir", private_socket_dir()
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
