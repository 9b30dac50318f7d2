"""Skip re-reading an unchanged zip archive on ``importlib.invalidate_caches()``.

PySpark's worker setup (``pyspark.worker_util.setup_spark_files``) calls
``importlib.invalidate_caches()`` before every Python data-source planner
call and every Python task. On CPython 3.10-3.12,
``zipimport.zipimporter.invalidate_caches`` re-reads the archive's whole
central directory. Spark puts ``pyspark.zip`` (about 1,300 entries) first
on the worker path, and every imported subpackage leaves one more
zipimporter on it, so each call costs 0.08-0.20 s on a worker that has
imported the data-source planner modules. CPython 3.13 made the call lazy
(it only drops the cached directory), so nothing is replaced there.

The replacement stats the archive first and re-reads only when its
``(st_mtime_ns, st_size, st_ino)`` differs from the stamp taken at this
importer's last re-read. A changed archive is still picked up; only the
identical re-read is skipped. This module is imported for its side effect,
first thing in the package ``__init__``, so every Python worker that
unpickles a ``ZarrDataSource`` or ``ZarrReader`` installs it.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _install() -> None:
    original = getattr(zipimport.zipimporter, "invalidate_caches", None)
    if original is None or sys.version_info >= (3, 13):
        return

    def invalidate_caches(self):
        # stat BEFORE the re-read: an archive rewritten during the read then
        # carries a newer stamp than the one stored, so the next call re-reads
        stamp = _stamp(self.archive)
        if stamp is not None and stamp == getattr(self, "_archive_stamp", None):
            return
        original(self)
        self._archive_stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


_install()
