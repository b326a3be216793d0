"""PySpark daemon for the engine's Python workers (``spark.python.daemon.module``).

Every Python task calls ``importlib.invalidate_caches()`` while it sets up
its files (``pyspark.worker_util.setup_spark_files``). On CPython 3.11
that makes each ``zipimporter`` on the worker's path re-read its
archive's whole central directory, eagerly: a warm worker holds one
importer per imported ``pyspark.zip`` subpackage plus the Spark jar and
py4j, about 27k directory entries parsed per task. This daemon runs the
stock ``pyspark.daemon`` with that method wrapped so an archive is
re-read only when it has changed on disk.
"""

from __future__ import annotations

import os
import zipimport


def stamped(stock):
    """Wrap ``zipimporter.invalidate_caches`` (``stock``) with a per-archive
    ``(st_mtime_ns, st_size)`` stamp.

    ``stock`` runs the first time an archive is seen, whenever its stamp
    has changed, and whenever ``os.stat`` fails (the stock method then
    drops the cache, as it always did). Otherwise the importer is
    re-pointed at the directory already read for that archive.
    """
    stamps: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return stock(self)
        stamp = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is None or stamps.get(self.archive) != stamp:
            # stat before the read: a write racing the read leaves the
            # older stamp, so the next call reads the archive again
            stamps[self.archive] = stamp
            return stock(self)
        # CPython 3.11 looks entries up in ``_files``; 3.13 in the
        # module cache, which already holds ``files``
        self._files = files

    return invalidate_caches


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = stamped(
        zipimport.zipimporter.invalidate_caches)
    from pyspark import daemon

    daemon.manager()
