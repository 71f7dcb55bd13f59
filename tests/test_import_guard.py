"""The package-import guard that keeps unchanged zip directories across
``importlib.invalidate_caches()`` (PySpark's worker calls it before
every task)."""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

import demeton_spark

GUARDED = sys.version_info < (3, 13)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_unchanged_zip_is_not_reread_but_rewritten_zip_is(
        tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["a"])
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    saved_path, saved_modules = sys.path[:], dict(sys.modules)
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("a").NAME == "a"
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, ["a", "b"])
        importlib.invalidate_caches()
        assert importlib.import_module("b").NAME == "b"
        assert len(reads) == 1
    finally:
        sys.path[:] = saved_path
        for name in set(sys.modules) - set(saved_modules):
            del sys.modules[name]
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_every_python_worker_runs_the_guard(spark):
    """Unpickling a UDF that touches the package installs the guard in
    the worker process that runs it."""

    def report(batches):
        for _ in batches:
            yield pd.DataFrame({
                "guarded": [zipimport.zipimporter.invalidate_caches.__module__
                            == demeton_spark.__name__],
            })

    rows = (spark.range(0, 64, numPartitions=8)
            .mapInPandas(report, schema="guarded boolean").collect())
    assert len(rows) == 8
    assert all(r["guarded"] == GUARDED for r in rows)


@pytest.mark.skipif(not GUARDED, reason="CPython 3.13+ invalidates lazily")
def test_stat_failure_falls_back_to_original(tmp_path):
    """A stat that fails means the guard cannot tell, so it re-reads."""
    archive = str(tmp_path / "gone.zip")
    _write_zip(archive, ["c"])
    importer = zipimport.zipimporter(archive)
    (tmp_path / "gone.zip").unlink()
    importer.invalidate_caches()  # original: unreadable archive, empty dir
    assert importer._files == {}
    zipimport._zip_directory_cache.pop(archive, None)
