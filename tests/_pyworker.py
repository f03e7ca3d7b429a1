"""PySpark daemon for the test session's Python workers: ``pyspark.daemon``
with a zip-archive directory cache that is re-read only when the archive
changed.

Before every Python task PySpark calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py:setup_spark_files``).  Before Python 3.12 a
``zipimporter`` answers that by re-reading its archive's whole central
directory, and a worker holds one zipimporter per package it has
imported from ``pyspark.zip`` (~16, over a 1,300-entry archive).  That
is ~300 ms of each task on a 4-core host, however small the task, and it
dominated the suite's Arrow/pandas-UDF tests.  Here an importer re-reads
its archive only when the archive's size or mtime differs from the last
read, so a new or rewritten zip is still picked up.

``conftest.spark`` selects this module with ``spark.python.daemon.module``;
the workers find it, like the package itself, on the working directory.
"""

import os
import zipimport

_read_invalidate = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int]] = {}


def _invalidate_if_changed(self):
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _read_invalidate(self)
    if stamp is not None:
        _stamps[self.archive] = stamp


if not hasattr(zipimport.zipimporter, "_get_files"):  # lazy from 3.12 on
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


if __name__ == "__main__":
    from pyspark.daemon import manager

    manager()
