"""PySpark worker daemon that re-reads a zip on ``sys.path`` only when it changed.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). Up to Python
3.12, ``zipimport.zipimporter.invalidate_caches`` re-reads the whole
central directory of its archive, and every package imported from
``pyspark.zip`` has an importer of its own: each task re-parsed the
1328-entry directory about 16 times, most of a short task's Python CPU.
CPython 3.13 made this invalidation lazy; this daemon does the same on
older versions. An archive is re-read only when its
``(mtime_ns, size, inode)`` changed, so a replaced zip is still picked
up.

``session.get_spark`` selects this module through
``spark.python.daemon.module``; it then runs PySpark's own daemon.
"""

from __future__ import annotations

import os
import sys
import zipimport

_read_invalidate = zipimport.zipimporter.invalidate_caches
# archive -> stamp of the directory now in zipimport._zip_directory_cache
_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only
    when it changed since the last read by any importer of it."""
    stamp = _stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and stamp == _stamps.get(self.archive) and cached is not None:
        self._files = cached
        return
    # stamp before reading: a change during the read shows up next time
    _read_invalidate(self)
    if stamp is not None:
        _stamps[self.archive] = stamp


def main() -> None:
    import importlib

    from pyspark import daemon

    if sys.version_info < (3, 13):  # 3.13+ invalidates lazily itself
        zipimport.zipimporter.invalidate_caches = invalidate_if_changed
        # stamp every archive once here; the forked workers inherit it
        importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    main()
