"""Python worker daemon for engine sessions.

``get_spark`` selects this module through ``spark.python.daemon.module``,
so Spark forks every Python worker of an engine session from here instead
of from ``pyspark.daemon``.  It installs one gate and then runs
``pyspark.daemon.manager()`` unchanged.

Why: ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every Python UDF task.
Before Python 3.12 that makes every ``zipimport.zipimporter`` on the
worker's path re-read its archive's central directory right away: one
importer per imported ``pyspark`` subpackage over ``pyspark.zip``, plus the
py4j zip and the spark-core jar, 0.17-0.25 s per task on a 4-CPU host.
Python 3.12 made the re-read lazy (gh-103200), so there the gate is not
installed.

The gate re-reads an archive only when its ``(st_mtime_ns, st_size)``
differs from what that importer instance last read.  The stamp lives on
the instance, not per archive path: importers over the same archive hold
separate directory copies once they have re-read, and after an in-place
rewrite each of them must read again.  An importer that has not been
stamped yet re-reads on its first call.
"""

import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(archive):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def gated_invalidate_caches(self):
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    stamp = _stamp(self.archive)
    if stamp is not None and stamp == self.__dict__.get("_kcp_read_stamp"):
        return
    # stat before the read: an archive rewritten during the read then
    # carries a newer stamp and is read again on the next call
    _reread(self)
    self._kcp_read_stamp = stamp


def install():
    """Gate ``zipimporter.invalidate_caches``; returns whether it did."""
    if sys.version_info >= (3, 12):
        return False
    zipimport.zipimporter.invalidate_caches = gated_invalidate_caches
    return True


if __name__ == "__main__":
    gated = install()
    from pyspark import daemon
    if gated:
        # stamp every importer the daemon made (pyspark.worker and its
        # imports) once, so forked workers start with stamps
        importlib.invalidate_caches()
    daemon.manager()
