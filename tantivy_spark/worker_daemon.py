"""pyspark's Python worker daemon without the per-task zip directory re-reads.

Before every task, pyspark's ``setup_spark_files`` calls
``importlib.invalidate_caches()``.  On CPython 3.11 that makes each
``zipimporter`` re-read its whole archive directory: one importer per
imported subpackage of ``pyspark.zip``, plus py4j's, 16 reads and about
140 ms per task.  ``session.get_spark`` sets ``spark.python.daemon.module``
to this module.  Run as ``__main__``, it replaces
``zipimporter.invalidate_caches`` with one that re-reads an archive only
when its ``(st_mtime_ns, st_size)`` changed since the last read, then runs
pyspark's daemon, whose forked workers inherit the replacement.  Importing
the module changes nothing.
"""

import importlib
import os
import zipimport

_original = zipimport.zipimporter.invalidate_caches
_last_read = {}   # archive -> ((st_mtime_ns, st_size), its directory)


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _last_read.pop(self.archive, None)
        return _original(self)
    stamp = (st.st_mtime_ns, st.st_size)   # taken before the read it stamps
    last = _last_read.get(self.archive)
    if last is not None and last[0] == stamp:
        self._files = last[1]   # the archive's other importers may have read it
        return
    _original(self)
    _last_read[self.archive] = (stamp, self._files)


if __name__ == "__main__":
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()   # read each archive once, before the forks
    daemon.manager()
