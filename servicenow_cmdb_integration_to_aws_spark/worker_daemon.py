"""Spark Python worker daemon that re-reads a zip archive only when it changed.

Spark forks each Python worker from one daemon process
(``spark.python.daemon.module``, by default ``pyspark.daemon``). Before
every task a worker calls ``importlib.invalidate_caches()`` (PySpark's
``setup_spark_files``), and on interpreters whose
``zipimport.zipimporter.invalidate_caches`` re-parses its archive (CPython
3.11) that re-reads every zip on the worker path: 12 importers over
``pyspark.zip`` and 2 over the spark-core jar, about 0.2 s per task on a
4-vCPU host against 1-2 ms of user code.

Run with ``-m``, this module makes ``invalidate_caches`` keep the cached
directory while the archive's ``(st_ino, st_size, st_mtime_ns)`` equals
the stamp taken just before its last read; a changed, replaced or missing
archive goes through the original method. (Like CPython's own bytecode
check on source mtime and size, a same-size rewrite in place within one
file-timestamp tick of the last read would go unseen.) It then runs
``pyspark.daemon`` as ``__main__``, so every forked worker inherits the
change and PySpark's worker code runs as is. :func:`session.build_session`
names this module as the daemon.
"""

from __future__ import annotations

import os
import runpy
import zipimport

_invalidate_caches = zipimport.zipimporter.invalidate_caches
_read_directory = getattr(zipimport, "_read_directory", None)

#: archive path -> (st_ino, st_size, st_mtime_ns), taken before its last read
_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _read_directory_stamped(archive):
    # stamp before reading: a write racing the read shows as a change later
    _stamps.pop(archive, None)
    stamp = _stamp(archive)
    files = _read_directory(archive)
    if stamp is not None:
        _stamps[archive] = stamp
    return files


def invalidate_caches(self):
    """Re-read the archive's directory only if the archive changed."""
    files = zipimport._zip_directory_cache.get(self.archive)
    stamp = _stamps.get(self.archive)
    if files is not None and stamp is not None and stamp == _stamp(self.archive):
        self._files = files
    else:
        _invalidate_caches(self)


def install() -> None:
    """Apply the change to this process. Changes nothing on an interpreter
    whose ``invalidate_caches`` does not call ``_read_directory``."""
    if "_read_directory" not in _invalidate_caches.__code__.co_names:
        return
    zipimport._read_directory = _read_directory_stamped
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # directories read before this ran carry no stamp: read them once more
    cache = zipimport._zip_directory_cache
    for archive in list(cache):
        try:
            cache[archive] = _read_directory_stamped(archive)
        except zipimport.ZipImportError:
            cache.pop(archive, None)


if __name__ == "__main__":
    install()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
