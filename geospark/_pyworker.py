"""PySpark worker daemon for local sessions (``spark.python.daemon.module``).

Before every task PySpark's worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Since CPython 3.10 that makes
every ``zipimporter`` re-read its archive's central directory, and workers
import PySpark from ``pyspark.zip`` through 14-16 importers over one
1,328-entry archive: about 0.1 CPU s per task. Here an importer re-reads
its archive only when the archive's (mtime, size) changed since that
importer last read it. The daemon also imports the kernel libraries once
and freezes the heap, so every forked worker starts with them loaded and
shares those pages copy-on-write.
"""

import gc
import importlib
import os
import zipimport

_reload = zipimport.zipimporter.invalidate_caches


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self):
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_geospark_stamp", None):
        _reload(self)
        self._geospark_stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.worker  # noqa: F401
    from pyspark.daemon import manager

    importlib.invalidate_caches()  # stamp every importer before the forks
    gc.freeze()
    manager()
