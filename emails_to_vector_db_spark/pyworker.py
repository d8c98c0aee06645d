"""PySpark daemon for ``get_spark()`` sessions (``spark.python.daemon.module``).

Before every task a reused worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before CPython 3.13 that makes
every zipimporter re-read its archive's central directory: one importer per
package prefix over pyspark.zip and the py4j zip, 16 reads per task. The
patch below re-reads an archive only when its ``(st_ino, st_size,
st_mtime_ns)`` changed since the last read; the daemon reads each archive
once and forked workers inherit patch and cache. From 3.13 on the stock
method is already lazy.
"""

import importlib
import os
import sys
import zipimport

_stock = zipimport.zipimporter.invalidate_caches
_read_as: dict[str, tuple | None] = {}


def invalidate_caches(self) -> None:
    """Reload the archive's file data only if the archive changed."""
    try:
        st = os.stat(self.archive)
        key = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        key = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and files is not None and _read_as.get(self.archive) == key:
        self._files = files
        return
    _stock(self)
    _read_as[self.archive] = key


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        importlib.invalidate_caches()  # one read per archive here, none per task
    from pyspark import daemon

    daemon.manager()
