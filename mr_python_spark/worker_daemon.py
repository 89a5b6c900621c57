"""Python worker daemon: ``pyspark.daemon`` with a zip directory cache
and a frozen heap.

pyspark's worker calls ``importlib.invalidate_caches()`` before every
task (``setup_spark_files`` in ``pyspark/worker_util.py``).  On Python
3.11 each ``zipimporter`` answers that by re-parsing its archive's whole
central directory, and a worker holds one importer per package
directory of ``pyspark.zip`` plus the py4j zip and the spark-core jar:
about 27k entries, 138–249 ms a task on a 4-core box, for archives
that never change while the session runs.

Run as the daemon module (:func:`mr_python_spark.session.get_spark`
sets ``spark.python.daemon.module``), this module records each
archive's file identity ``(st_ino, st_mtime_ns, st_size)`` whenever its
directory is read, makes ``zipimporter.invalidate_caches`` re-read an
archive only when that identity has changed, then hands over to
``pyspark.daemon.manager()``.  The forked workers inherit the
replacements; importing this module installs nothing, so the driver
never runs patched.

Each reused worker also runs a full ``gc.collect()`` after every task
(``pyspark/daemon.py``, after ``worker()`` returns), and that walks
every object the worker inherited from the daemon, ``pyspark.worker``
and all it imports.  A worker's gap from one task's return to its
next task's start was p50 30 ms / p90 49 ms on a 4-core box.  So the
daemon collects once and calls ``gc.freeze()`` just before
``manager()`` forks: the inherited objects move to the permanent
generation, which no collection visits, and the gap is 0.3 ms.

A reused worker waits for its next task inside ``pyspark.worker.main``.
When the JVM closes an idle worker's socket, ``main`` reads EOF, tries
to report that as a task failure on the closed socket, and the flush
that follows raises ``BrokenPipeError``; with
``spark.python.daemon.killWorkerOnFlushFailure`` the daemon prints that
traceback for every idle worker it loses.  The daemon therefore runs
each worker through :func:`exit_on_eof`, which ends a worker whose
socket has nothing left to read without writing to it.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

_read = zipimport._read_directory  # noqa: SLF001
_reread = zipimport.zipimporter.invalidate_caches

#: archive path → file identity just before its directory was last read
_read_at: dict[str, tuple[int, int, int]] = {}


def _identity(archive: str) -> tuple[int, int, int]:
    st = os.stat(archive)
    return st.st_ino, st.st_mtime_ns, st.st_size


def read_directory(archive: str) -> dict:
    """``zipimport._read_directory`` that records the archive's identity.

    Taken before the read, so an archive rewritten during it reads as
    changed on the next :func:`invalidate_caches`.  The ``zipimporter``
    constructor and the original re-read both go through it.
    """
    try:
        _read_at[archive] = _identity(archive)
    except OSError:
        _read_at.pop(archive, None)
    return _read(archive)


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive.

    A deleted or unreadable archive (``OSError``), one not read through
    :func:`read_directory`, or a changed identity falls through to the
    original re-read; an unchanged one keeps the directory already
    read, shared by every importer on that archive.
    """
    try:
        ident = _identity(self.archive)
    except OSError:
        ident = None
    files = zipimport._zip_directory_cache.get(self.archive)  # noqa: SLF001
    if ident is not None and files is not None and _read_at.get(self.archive) == ident:
        self._files = files
    else:
        _reread(self)


def exit_on_eof(worker_main):
    """Wrap pyspark's ``worker_main(infile, outfile)``: at EOF on
    ``infile`` exit with ``SystemExit(-1)``, writing nothing to
    ``outfile``; otherwise run ``worker_main``.

    ``peek`` blocks, as ``worker_main``'s first read would, until the
    next task's first bytes or EOF, and consumes nothing.  pyspark's
    ``worker()`` turns the exit into code -1, and the forked worker
    exits without a traceback.
    """

    def run(infile, outfile):
        if not infile.peek(1):
            raise SystemExit(-1)
        return worker_main(infile, outfile)

    return run


if __name__ == "__main__":
    zipimport._read_directory = read_directory  # noqa: SLF001
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # the archives imported from so far were read before the patch:
    # read each once more here, in the daemon, so forked workers start
    # with every identity known
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()

    import pyspark.daemon  # imports pyspark.worker too

    pyspark.daemon.worker_main = exit_on_eof(pyspark.daemon.worker_main)
    gc.collect()
    gc.freeze()
    pyspark.daemon.manager()
