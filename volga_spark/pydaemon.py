"""Python worker daemon of ``get_spark`` sessions (``spark.python.daemon.module``).

Every task a Python worker runs starts in pyspark's
``worker_util.setup_spark_files``, which calls ``importlib.invalidate_caches()``.
Before Python 3.13, ``zipimporter.invalidate_caches`` re-reads the whole
central directory of its archive, and a worker holds one zipimporter per
imported pyspark subpackage of ``pyspark.zip`` plus those of the spark-core
jar and py4j: about 0.2 s per task before any UDF code runs (Python 3.11,
4-core host). The archives on a worker's path do not change during an
application, and a file shipped with ``addPyFile`` lands on a new path that
gets a fresh importer, so this module turns the reload off and then runs
pyspark's own daemon, whose forked workers inherit the patch. Directory
finders still invalidate as before.
"""

from __future__ import annotations

import sys
import zipimport

from pyspark import daemon


def keep_zip_directories() -> None:
    """Make ``zipimporter.invalidate_caches`` a no-op on Pythons where it
    re-reads the archive (3.13 only drops the cache entry)."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = lambda self: None


if __name__ == "__main__":
    keep_zip_directories()
    daemon.manager()
