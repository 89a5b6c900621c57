"""The worker daemon's zip directory cache.

pyspark's worker calls ``importlib.invalidate_caches()`` before every
task; :mod:`mr_python_spark.worker_daemon` makes each ``zipimporter``
skip the re-read while its archive's file identity is unchanged.  The
session test checks that on the workers, the in-process test checks the
replacements on a zip that does change, and the driver must never have
them installed.
"""

import importlib
import os
import sys
import zipfile
import zipimport

from mr_python_spark import worker_daemon


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


def _zip_directories_reread(_):
    """In a worker: which archives does ``invalidate_caches()`` re-read?"""
    import worker_daemon_probe  # noqa: F401  (first read inside this task)

    importers = [
        f for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter)
    ]
    before = [id(f._files) for f in importers]  # noqa: SLF001
    importlib.invalidate_caches()
    reread = [
        f.archive for f, b in zip(importers, before)
        if id(f._files) != b  # noqa: SLF001
    ]
    return sorted({f.archive for f in importers}), reread


def test_workers_keep_unchanged_zip_directories(spark, tmp_path):
    # besides the archives the daemon started with (pyspark, py4j), a
    # zip shipped with addPyFile and first read inside a task, like the
    # package zip that ensure_session ships
    probe = str(tmp_path / "worker_daemon_probe.zip")
    _write_zip(probe, ["worker_daemon_probe"])
    sc = spark.sparkContext
    sc.addPyFile(probe)
    [(archives, reread)] = (
        sc.parallelize([0], 1).map(_zip_directories_reread).collect()
    )
    assert any(a.endswith("/pyspark.zip") for a in archives)
    assert any(a.endswith("/worker_daemon_probe.zip") for a in archives)
    assert reread == []


def test_driver_is_not_patched():
    assert zipimport._read_directory is not worker_daemon.read_directory  # noqa: SLF001
    assert zipimport.zipimporter.invalidate_caches is not worker_daemon.invalidate_caches


def test_reread_only_on_changed_identity(tmp_path, monkeypatch):
    # what the daemon installs, for this test only
    monkeypatch.setattr(zipimport, "_read_directory", worker_daemon.read_directory)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["a"])
    imp = zipimport.zipimporter(archive)
    files = imp._files  # noqa: SLF001
    imp.invalidate_caches()
    imp.invalidate_caches()
    assert imp._files is files  # noqa: SLF001
    assert imp.find_spec("a") is not None
    assert imp.find_spec("b") is None

    _write_zip(archive, ["a", "b"])  # new size and mtime
    imp.invalidate_caches()
    assert imp.find_spec("b") is not None

    os.remove(archive)  # a vanished archive falls back to the original
    imp.invalidate_caches()
    assert imp.find_spec("a") is None
