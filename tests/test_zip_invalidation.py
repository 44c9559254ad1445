"""The package's zip invalidation gate keeps the meaning of
``zipimporter.invalidate_caches``: an archive is re-read when it changed
and only then. On CPython ≥ 3.13 the stdlib method is left as it is."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import spcht_spark

GATED = sys.version_info < (3, 13)


def _is_gated() -> bool:
    return bool(getattr(zipimport.zipimporter.invalidate_caches, "_stat_gated", False))


def test_gate_installed_only_where_the_stdlib_reads_eagerly():
    assert _is_gated() == GATED
    installed = zipimport.zipimporter.invalidate_caches
    spcht_spark._install_zip_invalidation_gate()
    assert zipimport.zipimporter.invalidate_caches is installed


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A one-module archive on ``sys.path`` and a counter of the
    directory reads of that archive."""
    archive = tmp_path / "gate_probe.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("gate_probe_a.py", "VALUE = 'a'\n")
    reads = []
    stdlib_read = zipimport._read_directory

    def counting_read(path):
        if path == str(archive):
            reads.append(path)
        return stdlib_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(str(archive))
    yield archive, reads
    for name in ("gate_probe_a", "gate_probe_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(str(archive), None)
    zipimport._zip_directory_cache.pop(str(archive), None)


@pytest.mark.skipif(not GATED, reason="CPython ≥ 3.13 re-reads lazily; no gate")
def test_unchanged_archive_is_not_reread_and_a_rewritten_one_is(zip_on_path):
    archive, reads = zip_on_path
    assert importlib.import_module("gate_probe_a").VALUE == "a"
    importlib.invalidate_caches()  # the importer's first gated call reads
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []

    with zipfile.ZipFile(archive, "a") as zf:
        zf.writestr("gate_probe_b.py", "VALUE = 'b'\n")
    importlib.invalidate_caches()
    assert reads == [str(archive)]
    assert importlib.import_module("gate_probe_b").VALUE == "b"
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []


def test_gate_is_installed_inside_the_python_worker(spark):
    # defined here so cloudpickle ships it by value: the workers cannot
    # import this test module
    def worker_gate(batches):
        import zipimport

        import pandas as pd

        import spcht_spark  # noqa: F401 — what every engine UDF module does

        for _ in batches:
            gated = getattr(zipimport.zipimporter.invalidate_caches, "_stat_gated", False)
            yield pd.DataFrame({"gated": [bool(gated)]})

    rows = spark.range(2, numPartitions=2).mapInPandas(worker_gate, "gated boolean").collect()
    assert [r["gated"] for r in rows] == [GATED, GATED]
