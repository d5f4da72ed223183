"""Python worker daemon: ``pyspark.daemon`` minus the per-task zip re-read.

Every task runs ``importlib.invalidate_caches()`` (pyspark's
``setup_spark_files``), also on a reused worker.  Before CPython 3.13
that makes each cached ``zipimporter`` re-read its archive's whole
directory -- 16 importers over the 1,328-entry ``pyspark.zip``, about
0.25 s per task.  3.13 made the call lazy (``zipimport.py``,
``zipimporter.invalidate_caches``).  Here, below 3.13, an archive is
re-read only when its ``(st_mtime_ns, st_size)`` changed since the last
read, so a zip that really changes is still picked up.

Started as ``python -m raster_tools_spark._pydaemon`` through
``spark.python.daemon.module`` (see ``session.get_spark``).
"""

import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
_read_sig = {}  # archive path -> (st_mtime_ns, st_size) when last read


def _guarded_invalidate(self):
    """``zipimporter.invalidate_caches`` that keeps the cached directory
    while the archive's stat signature is the one it was read at.  The
    stat comes before the read, so a change during the read shows as a
    new signature next time."""
    try:
        st = os.stat(self.archive)
        sig = (st.st_mtime_ns, st.st_size)
    except OSError:
        sig = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if sig is not None and files is not None \
            and _read_sig.get(self.archive) == sig:
        self._files = files  # what another importer of this archive read
        return
    _stock_invalidate(self)
    _read_sig[self.archive] = sig


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _guarded_invalidate
    from pyspark import daemon

    daemon.manager()
