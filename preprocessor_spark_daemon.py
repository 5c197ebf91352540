"""PySpark worker daemon that re-reads a zip archive only when it changed.

``get_spark`` sets ``spark.python.daemon.module`` to this module. Spark
starts it as ``python -m preprocessor_spark_daemon pyspark.worker``; it
patches ``zipimport.zipimporter.invalidate_caches`` and runs the stock
``pyspark.daemon.manager()``, whose forked workers inherit the patch.

Every Python task calls ``importlib.invalidate_caches()`` once
(``pyspark.worker_util.setup_spark_files``). On Python 3.11 that makes each
zipimporter re-read its archive's whole central directory: 12 importers on
``pyspark.zip`` (1,328 entries, 5-11 ms each) and 2 on the spark-core jar
(5,359 entries, 22-44 ms each), 0.1-0.26 s on a 4-core host before every
task's UDF body starts. The patched method stats the archive and re-reads
it only when its ``(st_mtime_ns, st_size, st_ino)`` differs from what that
importer last read. The first call on each importer always reads, so a new or rewritten
archive (``SparkContext.addPyFile``) is picked up as before.

This module lives outside the ``preprocessor_spark`` package on purpose:
``-m preprocessor_spark.<mod>`` would run the package ``__init__`` in the
daemon, and every forked worker would start with the whole library
imported (measured: +50-70 MB peak RSS on the ``prep_temporal``
benchmark). It imports nothing beyond what ``import pyspark.daemon`` does.
"""

import os
import zipimport

from pyspark import daemon

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _archive_key(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def invalidate_caches(self):
    """Reload the archive's directory unless this importer already read the
    archive as it is on disk now."""
    key = _archive_key(self.archive)
    if key is not None and key == getattr(self, "_read_key", None):
        return
    _stock_invalidate_caches(self)
    self._read_key = key


if __name__ == "__main__":
    # ``-m`` runs this file as ``__main__``; take the method from the module
    # under its own name, so the patched method reports (and pickles as) it.
    zipimport.zipimporter.invalidate_caches = __import__(__spec__.name).invalidate_caches
    daemon.manager()
