"""Tooling checks: the shuffle-parallelism helper, and the private
pyspark calls the memoized pandas-UDF paths rely on.

:func:`~spcht_spark.index.query.decode_blocks` and
:func:`~spcht_spark.index.query.apply_grouped_cached` build their pandas
UDF once per session and then call the same JVM entry points pyspark's
own mixins call (``_jdf.mapInPandas(col, bool, profile)``,
``_build_java_profile`` and ``_jgd.flatMapGroupsInPandas``). Those are
private API, written against pyspark 4.1.2; if an upgrade renames or
re-signs them, these tests say so by name instead of letting a query
fail deep inside py4j."""

from __future__ import annotations

import inspect
from types import SimpleNamespace

import pyspark

from spcht_spark.session import shuffle_parallelism

PINNED = "4.1.2"


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
