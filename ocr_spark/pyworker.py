"""Spark's Python daemon, with zip importers that skip unchanged archives.

``pyspark.worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``
at the start of every task, and CPython 3.11's ``zipimporter.invalidate_caches``
re-reads its archive's whole central directory each time. A worker holds one
importer per subpackage of pyspark.zip plus the Spark jar and py4j, so every
Python task paid ~0.2 s of CPU before reading a row. Here an importer re-reads
its archive only when the archive's (mtime, size, inode) differs from what it
last read, so a zip added with ``addPyFile`` still reloads when it changes.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module, and
Spark forks every Python worker from it (``python -m ocr_spark.pyworker``).
"""

import importlib
import os
import zipimport

_stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    """Re-read the archive only if its stat stamp moved since the last read."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_archive_stamp", None):
        _stdlib_invalidate_caches(self)
        self._archive_stamp = stamp


zipimport.zipimporter.invalidate_caches = invalidate_caches

if __name__ == "__main__":
    from pyspark.daemon import manager

    # Stamp the daemon's importers once, so forked workers inherit the stamps.
    importlib.invalidate_caches()
    manager()
