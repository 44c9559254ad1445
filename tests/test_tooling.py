"""Tooling checks: the shuffle-parallelism and driver-memory helpers,
and the private pyspark calls the memoized pandas-UDF paths rely on.

:func:`~spcht_spark.index.query.decode_blocks`,
:func:`~spcht_spark.index.query.apply_grouped_cached` and
:func:`~spcht_spark.index.query.apply_cogrouped_cached` build their pandas
UDF once per session and then call the same JVM entry points pyspark's
own mixins call (``_jdf.mapInPandas(col, bool, profile)``,
``_build_java_profile`` and ``_jgd.flatMapGroupsInPandas``). Those are
private API, written against the pyspark version ``pyproject.toml``
pins; if an upgrade renames or re-signs them, these tests say so by
name instead of letting a query fail deep inside py4j.

Also here: the session's Python workers talk to the JVM over a Unix
socket in a private directory, and the pyspark worker still makes the
per-task ``importlib.invalidate_caches()`` call that the package's zip
invalidation gate exists for."""

from __future__ import annotations

import inspect
import os
import stat
import tomllib
from pathlib import Path
from types import SimpleNamespace

import pyspark
import pytest

from spcht_spark import session
from spcht_spark.index import query, wand
from spcht_spark.session import default_driver_memory, get_spark, shuffle_parallelism


def _pinned_pyspark() -> str:
    """The ``pyspark==X`` pin of the project metadata."""
    meta = tomllib.loads((Path(__file__).parents[1] / "pyproject.toml").read_text())
    (pin,) = [d for d in meta["project"]["dependencies"] if d.startswith("pyspark==")]
    return pin.split("==", 1)[1]


PINNED = _pinned_pyspark()


def _drift(what: str) -> str:
    return (
        f"private pyspark API drift: {what} (written against pyspark "
        f"{PINNED}, installed {pyspark.__version__}); update "
        "spcht_spark.index.query.decode_blocks / apply_grouped_cached"
    )


def _stub_spark(value, default_parallelism=3):
    return SimpleNamespace(
        conf=SimpleNamespace(get=lambda key: value),
        sparkContext=SimpleNamespace(defaultParallelism=default_parallelism),
    )


def test_shuffle_parallelism_reads_integer_conf():
    assert shuffle_parallelism(_stub_spark("7")) == 7


def test_shuffle_parallelism_falls_back_on_non_integer():
    assert shuffle_parallelism(_stub_spark("auto", default_parallelism=5)) == 5


def _jvm_signatures(jobj, name: str) -> list[tuple[str, ...]]:
    return [
        tuple(p.getName() for p in m.getParameterTypes())
        for m in jobj.getClass().getMethods()
        if m.getName() == name
    ]


def test_jvm_entry_points_match_pinned_pyspark(spark):
    df = spark.range(3)
    sig = (
        "org.apache.spark.sql.Column",
        "boolean",
        "org.apache.spark.resource.ResourceProfile",
    )
    assert sig in _jvm_signatures(df._jdf, "mapInPandas"), _drift(
        "Dataset.mapInPandas(Column, boolean, ResourceProfile) is gone"
    )
    gd = df.groupBy("id")
    assert ("org.apache.spark.sql.Column",) in _jvm_signatures(
        gd._jgd, "flatMapGroupsInPandas"
    ), _drift("RelationalGroupedDataset.flatMapGroupsInPandas(Column) is gone")
    assert hasattr(df, "_build_java_profile"), _drift(
        "DataFrame._build_java_profile is gone"
    )
    assert df._build_java_profile(None) is None, _drift(
        "_build_java_profile(None) no longer returns None"
    )


def test_worker_setup_still_invalidates_import_caches_per_task():
    """``spcht_spark._install_zip_invalidation_gate`` exists because the
    worker calls ``importlib.invalidate_caches()`` in
    ``setup_spark_files`` at the start of every task."""
    from pyspark import worker_util

    src = inspect.getsource(worker_util.setup_spark_files)
    assert "importlib.invalidate_caches()" in src, (
        f"pyspark {pyspark.__version__}'s setup_spark_files no longer calls "
        f"importlib.invalidate_caches() (pyspark {PINNED} did, at every "
        "task): spcht_spark._install_zip_invalidation_gate is dead code, "
        "delete it"
    )


def test_python_workers_use_a_private_unix_socket(spark, monkeypatch):
    # defined here so cloudpickle ships it by value: the workers cannot
    # import this test module
    def worker_env(batches):
        import os

        import pandas as pd

        for _ in batches:
            yield pd.DataFrame({
                "uds": [os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "")],
                "sock_dir": [os.environ.get("PYTHON_WORKER_FACTORY_SOCK_DIR", "")],
            })

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.unix.domain.socket.enabled") == "true"
    sock_dir = conf.get("spark.python.unix.domain.socket.dir")
    rows = spark.range(2, numPartitions=2).mapInPandas(
        worker_env, "uds string, sock_dir string"
    ).collect()
    assert {(r["uds"].lower(), r["sock_dir"]) for r in rows} == {("true", sock_dir)}
    # UDS mode skips pyspark's secret handshake: the dir's mode is the auth
    assert stat.S_IMODE(os.stat(sock_dir).st_mode) == 0o700
    # pyspark binds <dir>/.<uuid4>.sock; sun_path holds 107 bytes + NUL
    assert len(os.fsencode(sock_dir)) + len("/.00000000-0000-0000-0000-000000000000.sock") <= 107

    def no_new_dir():
        raise AssertionError("get_spark made a socket dir for an existing context")

    monkeypatch.setattr(session, "private_socket_dir", no_new_dir)
    again = get_spark("spcht_spark_tests", cores=8, shuffle_partitions=8)
    assert again.sparkContext.getConf().get("spark.python.unix.domain.socket.dir") == sock_dir


def test_mixins_still_make_the_mirrored_calls():
    """The memoized paths claim an identical plan to the mixins; that
    holds only while the mixins make these exact calls."""
    from pyspark.sql.pandas.group_ops import PandasGroupedOpsMixin
    from pyspark.sql.pandas.map_ops import PandasMapOpsMixin

    src = inspect.getsource(PandasMapOpsMixin.mapInPandas)
    assert "self._build_java_profile(profile)" in src, _drift(
        "mapInPandas no longer builds its profile with _build_java_profile"
    )
    assert "self._jdf.mapInPandas(udf_column._jc, barrier, jrp)" in src, _drift(
        "mapInPandas no longer calls _jdf.mapInPandas(col, barrier, profile)"
    )
    src = inspect.getsource(PandasGroupedOpsMixin.applyInPandas)
    assert "self._jgd.flatMapGroupsInPandas(udf_column._jc)" in src, _drift(
        "applyInPandas no longer calls _jgd.flatMapGroupsInPandas(col)"
    )


def test_default_driver_memory_is_half_of_memtotal(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16084412 kB\nMemFree:  1 kB\n")
    assert default_driver_memory(str(meminfo)) == "7g"  # 15.3 GiB / 2
    meminfo.write_text("MemTotal:       134217728 kB\n")
    assert default_driver_memory(str(meminfo)) == "64g"
    meminfo.write_text("MemTotal:       1048576 kB\n")
    assert default_driver_memory(str(meminfo)) == "1g"  # never 0g
    assert default_driver_memory(str(tmp_path / "absent")) == "1g"


def test_appliers_reuse_one_registered_udf(spark, small_index):
    """Each applier registers its UDF once per session: a second call
    adds no memo entry and reuses the same UDF object. The grouped and
    cogrouped appliers are driven through the AND and filtered-WAND
    paths that use them."""
    idx = small_index
    q = [("q", ["return", "if"], 10)]
    allowed = spark.range(0, 400, 3).withColumnRenamed("id", "doc_id")
    calls = [
        (query._decode_batches, lambda: query.decode_blocks(idx.blocks)),
        (wand._and_run_group, lambda: wand.and_topk(
            spark, idx.blocks, idx.dictionary, idx.stats, q)),
        (wand._wand_run_filtered, lambda: wand.wand_topk(
            spark, idx.blocks, idx.dictionary, idx.stats, q,
            doc_filter=allowed, shard_span=64)),
    ]
    app_id = spark.sparkContext.applicationId
    for func, call in calls:
        call()
        key = (app_id, func.__module__, func.__qualname__)
        udf = query._UDF_MEMO[key]
        size = len(query._UDF_MEMO)
        out = call()
        assert len(query._UDF_MEMO) == size, func.__qualname__
        assert query._UDF_MEMO[key] is udf, func.__qualname__
        assert out.count() > 0


@pytest.mark.parametrize(
    "runner, make",
    [
        ("_decode_batches", lambda s, idx, q: query.exact_topk(
            s, idx.blocks, idx.doclens, idx.dictionary, idx.stats, q)),
        ("_wand_run_group", lambda s, idx, q: wand.wand_topk(
            s, idx.blocks, idx.dictionary, idx.stats, q)),
        ("_wand_run_filtered", lambda s, idx, q: wand.wand_topk(
            s, idx.blocks, idx.dictionary, idx.stats, q,
            doc_filter=s.range(0, 400, 3).withColumnRenamed("id", "doc_id"),
            shard_span=64)),
        ("_and_run_group", lambda s, idx, q: wand.and_topk(
            s, idx.blocks, idx.dictionary, idx.stats, q)),
    ],
)
def test_analyzed_plans_name_the_runner(spark, small_index, runner, make):
    """Route detection reads the runner's name from the analyzed plan
    (``<name>(`` — the memoized UDF keeps the function's name)."""
    df = make(spark, small_index, [("q", ["return", "if"], 10)])
    plan = df._jdf.queryExecution().analyzed().toString()
    assert f"{runner}(" in plan
