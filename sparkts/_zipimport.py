"""Lazy ``zipimporter.invalidate_caches`` for CPython < 3.13.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. Before 3.13, each ``zipimporter`` on ``sys.path`` answers by
re-reading its archive's whole central directory: ``pyspark.zip`` (and the
importers of its sub-packages), the Spark jar, py4j and a ``--py-files``
zip. On a reused worker that costs 0.1–0.35 s per task before the UDF
runs. 3.13 only drops the cached directory and re-reads it on next use.

``install()`` wraps the stock method so that an importer re-reads its
archive only when the archive's ``(st_ino, st_size, st_mtime_ns)`` differs
from the one it last read, or when ``stat`` fails. A changed or deleted
archive is treated exactly as the stock method treats it. Importing
``sparkts`` installs the wrapper once per process; on 3.13 and later it
installs nothing.
"""

import functools
import os
import sys
import zipimport


def install() -> None:
    if sys.version_info >= (3, 13):
        return
    stock = zipimport.zipimporter.invalidate_caches
    if hasattr(stock, "__wrapped__"):
        return

    @functools.wraps(stock)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            sig = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            sig = None
        if sig is None or sig != getattr(self, "_read_sig", None):
            stock(self)
        self._read_sig = sig

    zipimport.zipimporter.invalidate_caches = invalidate_caches


install()
