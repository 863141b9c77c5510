"""Spark's Python worker daemon, minus the per-task re-read of pyspark.zip.

Before every task the stock worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Spark puts
``$SPARK_HOME/python/lib/pyspark.zip`` first on the worker's ``sys.path``,
so a worker holds one ``zipimporter`` per imported pyspark subpackage (12
after a single ``pandas_udf``), and on CPython < 3.13 each one's
``invalidate_caches()`` eagerly re-parses the archive's whole central
directory (1,328 entries) in pure Python: about 0.2 s of CPU per task, on
every Python task of the engine.

Here an importer re-reads its archive only when the archive's
``(st_ino, st_size, st_mtime_ns)`` differs from what it last read, or when
the stat fails. A rewritten zip is still re-read, and a zip newly put on
``sys.path`` still gets a fresh importer. The daemon installs the patch
before it forks, so every worker inherits it; the daemon itself is the
stock ``pyspark.daemon.manager()``. ``session.get_spark`` selects this module
through ``spark.python.daemon.module``.
"""

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    try:
        st = os.stat(self.archive)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_stamp", None):
        _reread(self)
        self._stamp = stamp


def install():
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark import daemon

    # stamp the importers the daemon already holds, so forked workers
    # start with them recorded instead of each re-reading once
    importlib.invalidate_caches()
    daemon.manager()
