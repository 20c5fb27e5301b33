"""Python worker daemon: ``pyspark.daemon`` without the per-task re-read of
every zip archive on the worker's ``sys.path``.

Every Python task starts in ``pyspark.worker_util.setup_spark_files``, which
calls ``importlib.invalidate_caches()``. Before CPython 3.12 that makes each
``zipimport.zipimporter`` re-read its archive's whole central directory on
the spot. Workers import pyspark from ``$SPARK_HOME/python/lib/pyspark.zip``
through one importer per package directory, so each task re-read that
directory once per importer before the task's function ran. CPython 3.12
made the invalidation lazy (gh-103200: the directory is re-read on the next
lookup, not inside ``invalidate_caches``); there this module leaves
``zipimport`` alone. Below 3.12 an archive is re-read only when its
``(st_mtime_ns, st_size)`` differs from its last read, and the importers of
an unchanged archive share that read.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stamps: dict = {}  # archive path -> (st_mtime_ns, st_size) at its last read
_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self):
    """``zipimporter.invalidate_caches`` that re-reads only a changed archive."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is None or files is None or _stamps.get(self.archive) != stamp:
        _stamps[self.archive] = stamp
        _reread(self)
    else:
        self._files = files


if __name__ == "__main__":
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
    from pyspark.daemon import manager

    manager()
