"""Spark's Python worker daemon, with two cold and warm fixed costs removed.

Started by Spark as ``python -m raster2points_spark._pydaemon`` (see
``spark.python.daemon.module`` in session.py); the forked workers
inherit both changes below.

1. **Byte-compiled pyspark.**  The JVM puts ``pyspark.zip`` and the
   py4j zip at the front of the workers' ``sys.path``.  The archives
   hold no ``.pyc``, so every daemon compiles pyspark from source on
   start and each worker compiles what the daemon did not import: the
   daemon took 1.33 s from spawn to its first fork on a 4-vCPU host,
   0.37 s with the installed copy.  When the same pyspark and py4j are
   installed, byte-compiled, in a directory on the path,
   ``installed_first`` moves directories before archives (each group
   keeps its order), so the installed copies win.  It does so only
   when every archive that carries ``pyspark/version.py`` or
   ``py4j/version.py`` carries the installed file byte for byte;
   otherwise, or with no installed pyspark, the path is left as it is.
   The archives stay on the path.
2. **No per-task re-read of zip archives.**  pyspark's worker calls
   ``importlib.invalidate_caches()`` at the start of every task
   (``worker_util.setup_spark_files``).  On Python 3.11 each
   ``zipimporter.invalidate_caches`` eagerly re-reads its archive's
   whole central directory, and a live worker that imports pyspark
   from the archives holds 16 zipimporters (12 over ``pyspark.zip``,
   2 over the spark-core jar, 2 over py4j): about 270 ms per task on a
   4-vCPU host.  ``install`` wraps that method so an archive is re-read
   only when its ``(st_mtime_ns, st_size)`` stamp changed.  Directory
   finders are still cleared, a new ``addPyFile`` archive is still
   found and a rewritten archive is still re-read.

This module must not import pyspark at import time, and neither may
the package ``__init__`` (``-m`` imports it first): the path has to be
settled before pyspark is imported.
"""

import importlib.machinery
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


def _installed_version(pkg, dirs):
    """``pkg/version.py`` of the first copy of ``pkg`` in ``dirs``, or
    None when there is none."""
    spec = importlib.machinery.PathFinder.find_spec(pkg, dirs)
    if spec is None or spec.origin is None:
        return None
    try:
        with open(os.path.join(os.path.dirname(spec.origin), "version.py"), "rb") as fh:
            return fh.read()
    except OSError:
        return None


def _archived_version(pkg, archive):
    """``pkg/version.py`` inside the zip ``archive``, or None."""
    try:
        return zipimport.zipimporter(archive).get_data(f"{pkg}/version.py")
    except (OSError, zipimport.ZipImportError):
        return None


def installed_first(path):
    """``path`` with its directories before its archives, each group in
    its order, when an installed pyspark exists and every archive that
    carries pyspark or py4j carries the installed version; else ``path``."""
    archives = [p for p in path if os.path.isfile(p)]
    dirs = [p for p in path if not os.path.isfile(p)]
    for pkg in ("pyspark", "py4j"):
        installed = _installed_version(pkg, dirs)
        if pkg == "pyspark" and installed is None:
            return path
        for archive in archives:
            carried = _archived_version(pkg, archive)
            if carried is not None and carried != installed:
                return path
    return dirs + archives


if __name__ == "__main__":
    sys.path[:] = installed_first(sys.path)

    from pyspark.daemon import manager

    install()
    manager()
