"""Keep a Python worker from re-reading unchanged zip archives every task.

Before each task PySpark's worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py``, ``setup_spark_files``). On CPython < 3.12 every
``zipimporter`` then re-reads its archive's whole central directory: a dozen
importers on ``pyspark.zip``, two on the spark-core jar and two on py4j,
about 27k entries and 0.14-0.29 s per task on a 4-vCPU host.

Imported inside a Spark task, this module replaces
``zipimporter.invalidate_caches`` with :func:`invalidate_caches`, which
re-reads an archive only when its ``(st_mtime_ns, st_size)`` differs from
the stamp taken at that importer's last re-read. A new archive
(``addPyFile``, ``--py-files``) gets a new importer, which reads it on
creation, and a rewritten one changes its stamp. The driver process keeps
the stdlib method.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark import TaskContext

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(importer):
    try:
        st = os.stat(importer.archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self):
    """Re-read the archive's directory only if the archive changed since
    this importer last read it; always re-read when it cannot be stat'ed."""
    stamp = _stamp(self)
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


if TaskContext.get() is not None:
    # this task's setup has just re-read every cached importer's directory
    for finder in sys.path_importer_cache.values():
        if isinstance(finder, zipimport.zipimporter):
            finder._read_stamp = _stamp(finder)
    zipimport.zipimporter.invalidate_caches = invalidate_caches
