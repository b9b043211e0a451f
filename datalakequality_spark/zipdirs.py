"""Stat-checked zip directories for pyspark's Python workers.

Before every task a reused pyspark worker calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``).
Under CPython 3.11 that makes every ``zipimporter`` in
``sys.path_importer_cache`` — 16 in a local worker, over ``pyspark.zip``
(1,328 entries) and py4j's zip — re-read its archive's central directory:
0.13–0.23 s of CPU per task, whatever the task does (CPython 3.13 made
the re-read lazy).

``install`` replaces ``zipimporter.invalidate_caches`` with a version
that re-reads an archive only when its ``(st_mtime_ns, st_size)``
differs from the last read, or when ``zipimport._zip_directory_cache``
no longer holds it; otherwise it restores the importer's ``_files``
from that cache. An archive rewritten in place (``addPyFile`` of a new
version) is still read again. The package ``__init__`` installs it in
Python workers only; the driver keeps the stdlib method.
"""

from __future__ import annotations

import os
import zipimport

_stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) stat'ed just before its
# directory was last read; process-wide, like zipimport's own cache
_read_at: dict[str, tuple[int, int]] = {}


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        return _stdlib_invalidate_caches(self)  # drops the archive's directory
    key = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _read_at.get(self.archive) == key:
        self._files = files
        return
    # stat before reading: a write in between makes the next call
    # read again, never skip a change
    _stdlib_invalidate_caches(self)
    if self.archive in zipimport._zip_directory_cache:
        _read_at[self.archive] = key


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` stat-checked in this process."""
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
