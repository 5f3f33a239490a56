"""Skip the Python worker's per-task re-read of unchanged zip archives.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``).  Before CPython 3.13 each
``zipimport.zipimporter`` then re-reads its archive's whole central
directory, and a worker holds one importer per sys.path prefix of
pyspark.zip, the py4j zip and the spark-core jar (16 in a warm kgre
worker).  Here an importer re-reads only when its archive's (mtime, size)
stamp differs from the one of its last read, so a rewritten archive is
still seen.
"""

from __future__ import annotations

import os
import zipimport

from pyspark import TaskContext

_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self):
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_stamp", None):
        _reread(self)
        self._stamp = stamp


def install():
    """Patch ``zipimporter.invalidate_caches`` inside a PySpark worker
    whose stdlib still re-reads eagerly; the driver keeps the stdlib."""
    if (TaskContext.get() is not None
            and not hasattr(zipimport.zipimporter, "_get_files")):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
