"""Spark Python daemon entry that keeps zip directory caches across tasks.

Spark starts its Python worker daemon as ``python -m <module> pyspark.worker``
(``spark.python.daemon.module``, set by ``session.build_session_conf``) and
forks one worker per Python task slot from it. Before every task pyspark's
``setup_spark_files`` calls ``importlib.invalidate_caches()``, and on
CPython 3.11 each ``zipimporter`` on the path answers that by re-reading its
whole archive directory: ``pyspark.zip`` once per imported subpackage, the
py4j zip and the Spark jar, ~28k entries and ~0.25 s of CPU per task.

This module replaces ``zipimporter.invalidate_caches`` with a version that
re-reads an archive only when its ``(st_mtime_ns, st_size)`` changed since
its directory was last read, then runs the unchanged ``pyspark.daemon``.
A new or rewritten archive (``addPyFile``, ``--py-files``) is still re-read,
and the path finders' own caches are still invalidated. Workers fork from
the daemon, so every Python task inherits the patch.

Standard library only: the daemon imports it before pyspark is loaded.
Everything here runs in the daemon and its workers, where the driver-side
line tracer does not reach (hence the ``# pragma: worker`` marks).
"""

from __future__ import annotations

import os
import runpy
import zipimport


def _stamp(path: str) -> tuple[int, int] | None:  # pragma: worker
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> bool:  # pragma: worker
    """Patch ``zipimport`` in this process. Returns False, patching
    nothing, where the interpreter's zipimport already reads directories
    lazily (newer CPython releases)."""
    original_read = getattr(zipimport, "_read_directory", None)
    if original_read is None or hasattr(zipimport.zipimporter, "_get_files"):
        return False
    cache = zipimport._zip_directory_cache
    # archive path -> stamp of the file when its cached directory was read
    read_stamps: dict[str, tuple[int, int] | None] = {}
    original_invalidate = zipimport.zipimporter.invalidate_caches

    def read_directory(archive):
        # stat before reading: a rewrite during the read leaves a stale
        # stamp, so the next invalidation reads again
        stamp = _stamp(archive)
        files = original_read(archive)
        read_stamps[archive] = stamp
        return files

    def invalidate_caches(self):
        files = cache.get(self.archive)
        stamp = _stamp(self.archive)
        if (files is not None and stamp is not None
                and read_stamps.get(self.archive) == stamp):
            self._files = files
            return
        original_invalidate(self)

    invalidate_caches.keeps_zip_cache = True
    zipimport._read_directory = read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # Directories read before the patch (a path scan that passed the
    # archives on the way to this module) carry no stamp: read them once
    # more here, in the daemon, instead of once in every forked worker.
    for archive in list(cache):
        try:
            cache[archive] = read_directory(archive)
        except zipimport.ZipImportError:
            pass
    return True


if __name__ == "__main__":  # pragma: worker
    install()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
