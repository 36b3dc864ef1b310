"""PySpark worker daemon for crawler_spark sessions.

``get_spark`` points ``spark.python.daemon.module`` here, so the JVM
starts ``python -m crawler_spark.worker_daemon`` instead of
``pyspark.daemon``. It runs PySpark's own ``daemon.manager()``; every
Python worker is forked from it and inherits what it sets up first.

What it sets up: on Python < 3.13 every task's
``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, and there each cached
``zipimporter`` re-reads its whole archive directory — pyspark.zip,
the py4j zip and the spark-core jar, once per package importer (16 per
worker). That re-read was most of the Python worker CPU of a crawl.
The replacement below re-reads an archive only when its
``(st_mtime_ns, st_size)`` changed since the last read and otherwise
reuses ``zipimport._zip_directory_cache``. Python 3.13's zipimport
only drops the cache entry on invalidation, so it is left alone there.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) of the directory in
# zipimport._zip_directory_cache
_STAMPS: dict[str, tuple[int, int]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _read(archive: str) -> None:
    """Read ``archive``'s directory into the zipimport cache and
    remember the stamp it was read under (taken first, so a rewrite
    during the read shows up as a change next time)."""
    stamp = _stamp(archive)
    try:
        zipimport._zip_directory_cache[archive] = zipimport._read_directory(archive)
    except zipimport.ZipImportError:
        zipimport._zip_directory_cache.pop(archive, None)
        stamp = None
    if stamp is None:
        _STAMPS.pop(archive, None)
    else:
        _STAMPS[archive] = stamp


def stat_keyed_invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive
    directory only when the archive changed on disk."""
    archive = self.archive
    files = zipimport._zip_directory_cache.get(archive)
    if files is None or _STAMPS.get(archive) != _stamp(archive):
        _read(archive)
        files = zipimport._zip_directory_cache.get(archive, {})
    self._files = files


def install() -> None:
    """Put the stat-keyed invalidation in place (Python < 3.13 only)
    and read every zip archive on ``sys.path`` under a fresh stamp."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = stat_keyed_invalidate_caches
        for entry in sys.path:
            if os.path.isfile(entry):
                _read(entry)


if __name__ == "__main__":
    from pyspark import daemon  # imports pyspark.worker: workers inherit it

    install()
    daemon.manager()
