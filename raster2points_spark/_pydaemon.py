"""Spark's Python worker daemon, minus the per-task re-read of zip archives.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``).  On Python 3.11 each
``zipimporter.invalidate_caches`` eagerly re-reads its archive's whole
central directory, and a live worker holds 16 zipimporters (12 over
``pyspark.zip``, 2 over the spark-core jar, 2 over py4j): about 270 ms
per task on a 4-vCPU host.  This module wraps that method so an archive
is re-read only when its ``(st_mtime_ns, st_size)`` stamp changed, then
runs pyspark's own daemon; the forked workers inherit the wrapper and
the stamps.  Directory finders are still cleared, a new ``addPyFile``
archive is still found and a rewritten archive is still re-read.
Started by Spark as ``python -m raster2points_spark._pydaemon`` (see
``spark.python.daemon.module`` in session.py).
"""

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
#: archive path → stamp of the file when its directory was last read
_stamps: dict = {}


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self):
    """``zipimporter.invalidate_caches`` that keeps an unchanged
    archive's directory (shared by every importer over that archive)."""
    stamp = _stamp(self.archive)
    if stamp is not None and _stamps.get(self.archive) == stamp:
        self._files = zipimport._zip_directory_cache.get(self.archive, self._files)
        return
    _reread(self)
    _stamps[self.archive] = stamp


def install():
    """Wrap the method and stamp every archive already imported from."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            _stamps.setdefault(finder.archive, _stamp(finder.archive))


if __name__ == "__main__":
    from pyspark.daemon import manager

    install()
    manager()
