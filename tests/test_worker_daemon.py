"""The worker daemon's zip directory cache, frozen heap and sockets.

pyspark's worker calls ``importlib.invalidate_caches()`` before every
task; :mod:`mr_python_spark.worker_daemon` makes each ``zipimporter``
skip the re-read while its archive's file identity is unchanged.  The
session test checks that on the workers, the in-process test checks the
replacements on a zip that does change, and the driver must never have
them installed.  The daemon also freezes its heap before forking, and
:func:`~mr_python_spark.session.get_spark` puts the workers on Unix
domain sockets, whose accumulator socket file must not outlive a
process that exits without ``stop()``.  A worker whose socket the JVM
closed exits without writing to it.
"""

import gc
import importlib
import io
import os
import subprocess
import sys
import tempfile
import time
import zipfile
import zipimport

import pytest

from mr_python_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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


def _frozen_and_socket(_):
    """In a worker: objects frozen by the daemon, and the socket kind."""
    return gc.get_freeze_count(), os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED")


def test_workers_are_frozen_on_unix_sockets(spark):
    [(frozen, unix)] = (
        spark.sparkContext.parallelize([0], 1).map(_frozen_and_socket).collect()
    )
    assert frozen > 0
    # the JVM sets "True"; pyspark.daemon compares it lower-cased
    assert str(unix).lower() == "true"


def test_driver_is_not_patched():
    assert zipimport._read_directory is not worker_daemon.read_directory  # noqa: SLF001
    assert zipimport.zipimporter.invalidate_caches is not worker_daemon.invalidate_caches


def test_driver_is_not_frozen():
    assert gc.get_freeze_count() == 0


_EXIT_WITHOUT_STOP = """
from mr_python_spark.session import get_spark
sc = get_spark("exit-without-stop").sparkContext
assert sc.parallelize([1], 1).map(lambda x: x + 1).collect() == [2]
print(sc._accumulatorServer.server_address)
"""


def test_exit_without_stop_leaves_no_socket():
    # a short private java.io.tmpdir: the sockets go there, and a
    # socket path must fit AF_UNIX's 107 bytes.  The exiting JVM may
    # still be deleting its own files in it during the cleanup.
    with tempfile.TemporaryDirectory(prefix="mrps_uds_", ignore_cleanup_errors=True) as tmp:
        env = dict(
            os.environ,
            PYSPARK_SUBMIT_ARGS=f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell",
            SPARK_GRAFT_CPUS="1",
            SPARK_GRAFT_DRIVER_MEM="1g",
        )
        run = subprocess.run(
            [sys.executable, "-c", _EXIT_WITHOUT_STOP], cwd=REPO, env=env,
            capture_output=True, text=True, timeout=600,
        )
        assert run.returncode == 0, run.stderr[-2000:]
        accumulator = run.stdout.split()[-1]
        assert os.path.dirname(accumulator) == tmp
        assert not os.path.exists(accumulator)  # removed by the exiting Python
        # the daemon removes its own socket when the exiting JVM stops it
        deadline = time.monotonic() + 60
        while (left := [f for f in os.listdir(tmp) if f.endswith(".sock")]) and (
            time.monotonic() < deadline
        ):
            time.sleep(0.5)
        assert left == []


def test_worker_at_eof_exits_without_writing():
    calls = []
    run = worker_daemon.exit_on_eof(lambda infile, outfile: calls.append(infile.read()))
    outfile = io.BytesIO()
    with pytest.raises(SystemExit) as exc:
        run(io.BufferedReader(io.BytesIO(b"")), outfile)
    assert exc.value.code == -1
    assert calls == [] and outfile.getvalue() == b""

    assert run(io.BufferedReader(io.BytesIO(b"task")), outfile) is None
    assert calls == [b"task"]  # delegated, with nothing consumed before


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
