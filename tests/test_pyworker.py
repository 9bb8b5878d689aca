"""``parcialbigdata_spark.pyworker``: ``importlib.invalidate_caches()``
re-reads a zip archive's directory only when the archive changed.

Fixture-free: the unit tests build their archive in a temp dir; the
Spark pin runs a one-row ``mapInPandas`` job.
"""

from __future__ import annotations

import importlib
import importlib.util
import os
import sys
import zipfile
import zipimport

import pytest

import parcialbigdata_spark.pyworker as pyworker

_OLD_PYTHON = sys.version_info < (3, 13)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.mark.skipif(not _OLD_PYTHON, reason="Python >= 3.13 re-reads lazily; the stdlib method is kept")
def test_invalidate_caches_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"pw_zip_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("pw_zip_a", "pw_zip_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    calls = []  # reads of this archive; other zips on sys.path are not this test's
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda a: (a == archive and calls.append(a)) or read(a))

    assert importlib.import_module("pw_zip_a").VALUE == 1
    assert calls == [archive]  # the importer's own first read

    calls.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert calls == []

    _write_zip(archive, {"pw_zip_a": "VALUE = 1\n", "pw_zip_b": "VALUE = 2  # longer archive\n"})
    importlib.invalidate_caches()
    assert calls == [archive]
    assert importlib.import_module("pw_zip_b").VALUE == 2


@pytest.mark.skipif(not _OLD_PYTHON, reason="Python >= 3.13 re-reads lazily; the stdlib method is kept")
def test_invalidate_caches_missing_archive_keeps_stdlib_result(tmp_path):
    archive = str(tmp_path / "gone.zip")
    _write_zip(archive, {"pw_zip_gone": "VALUE = 3\n"})
    importer = zipimport.zipimporter(archive)
    os.remove(archive)
    importer.invalidate_caches()
    assert importer._files == {}
    assert archive not in zipimport._zip_directory_cache


def test_stdlib_method_untouched_on_python_313(monkeypatch):
    """Runs the module under a faked 3.13 version: it must install nothing."""
    before = (zipimport.zipimporter.invalidate_caches, zipimport._read_directory)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    spec = importlib.util.spec_from_file_location("_pyworker_313", pyworker.__file__)
    spec.loader.exec_module(importlib.util.module_from_spec(spec))
    assert (zipimport.zipimporter.invalidate_caches, zipimport._read_directory) == before


@pytest.mark.skipif(_OLD_PYTHON, reason="checks the real >= 3.13 interpreter")
def test_stdlib_method_untouched_on_this_python():
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def test_reused_worker_skips_zip_rereads(spark):
    """Pin: in a Python worker that imports the package, an
    ``importlib.invalidate_caches()`` with the archives unchanged reads no
    zip directory. PySpark's ``setup_spark_files`` makes that call at the
    start of every task; with the stdlib method each call re-reads
    ``pyspark.zip`` once per zipimporter (16 in a no-op task). The job runs
    twice; when Spark hands the second task the first task's worker, that
    task's own start already paid nothing either."""

    def udf(batches):
        import importlib
        import os
        import sys
        import zipimport

        import pandas as pd

        import parcialbigdata_spark  # noqa: F401  (as unpickling any package UDF does)

        for _ in batches:
            pass
        read = zipimport._read_directory
        counts = []
        for _ in range(2):
            calls = []
            zipimport._read_directory = lambda archive, calls=calls: calls.append(archive) or read(archive)
            try:
                importlib.invalidate_caches()
            finally:
                zipimport._read_directory = read
            counts.append(len(calls))
        zips = sum(isinstance(i, zipimport.zipimporter) for i in sys.path_importer_cache.values())
        yield pd.DataFrame({"pid": [os.getpid()], "first": [counts[0]], "second": [counts[1]], "zips": [zips]})

    schema = "pid long, first long, second long, zips long"
    runs = [spark.range(1, numPartitions=1).mapInPandas(udf, schema).collect()[0] for _ in range(2)]
    assert all(r.zips > 0 for r in runs), f"no zipimporter in the worker, so the pin proves nothing: {runs}"
    if _OLD_PYTHON:
        assert [r.second for r in runs] == [0, 0], runs
        if runs[1].pid == runs[0].pid:
            assert runs[1].first == 0, runs
