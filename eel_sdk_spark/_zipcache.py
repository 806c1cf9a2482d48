"""Stat-guarded zip-import cache invalidation, for PySpark workers.

PySpark calls ``importlib.invalidate_caches()`` before every Python task.
Before CPython 3.13 each ``zipimporter`` then re-reads its archive's
whole directory: ~16 of them in a worker that has imported the engine,
over ``pyspark.zip`` and the spark-core jar, 110-210 ms of CPU per task.
The guard re-reads an archive only when its ``(st_mtime_ns, st_size,
st_ino)`` changed since its last read, so an ``addPyFile`` of a
rewritten zip is still seen; a rewrite in place that keeps all three
is not.
"""

import os
import sys


def _signature(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def install() -> None:
    """Install the guard once, in a PySpark worker on CPython < 3.13.
    The archives of importers already cached count as just read (at
    their creation or this task's invalidation); an archive first opened
    later is re-read once."""
    import zipimport
    reread = zipimport.zipimporter.invalidate_caches
    if (sys.version_info >= (3, 13) or getattr(reread, "_stat_guarded", False)
            or "PYTHON_WORKER_FACTORY_SECRET" not in os.environ):
        return
    read_at = {imp.archive: _signature(imp.archive)
               for imp in list(sys.path_importer_cache.values())
               if isinstance(imp, zipimport.zipimporter)}

    def invalidate_caches(self):
        sig = _signature(self.archive)
        if sig is None or sig != read_at.get(self.archive):
            reread(self)
            read_at[self.archive] = sig
        else:  # another importer of this archive may have re-read it
            self._files = zipimport._zip_directory_cache.get(self.archive,
                                                             {})

    invalidate_caches._stat_guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
