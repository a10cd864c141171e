"""PySpark worker daemon that stops zip imports from re-reading per task.

Every Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and workers import pyspark
from ``$SPARK_HOME/python/lib/pyspark.zip``.  Before CPython 3.13,
``zipimporter.invalidate_caches`` re-reads the archive's central
directory eagerly, once per cached importer (the archive root plus every
imported subpackage: 16 in a warm worker), which parses pyspark.zip's
~1,300 entries 16 times and costs 0.3-0.5 s of every task.

Here an importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size, st_ino)`` stamp changed since that importer's
last read, so a rewritten archive is still picked up.  ``session.get_spark``
selects this module through ``spark.python.daemon.module``; it patches
the importer class before the daemon forks any worker, then runs
pyspark's daemon unchanged.  Imports stay minimal: everything loaded here
is inherited by every forked worker.
"""

import os
import sys
import zipimport


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read only a changed archive."""
    stock = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return stock(self)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        if getattr(self, "_read_stamp", None) != stamp:
            stock(self)
            self._read_stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    # CPython 3.13 made zipimporter.invalidate_caches lazy (it only drops
    # the cached directory), so the eager re-read exists only before it.
    if sys.version_info < (3, 13):
        install()
    from pyspark.daemon import manager

    manager()
