"""Skip re-reading an unchanged zip archive on ``importlib.invalidate_caches``.

A PySpark Python worker calls ``importlib.invalidate_caches()`` at the
start of every task (``pyspark/worker_util.setup_spark_files``). Before
Python 3.12, ``zipimport.zipimporter.invalidate_caches`` re-reads the
whole central directory of its archive on every such call, and each
subpackage of ``pyspark.zip`` has its own importer: about 16 directory
reads and 27k entries per task, ~0.15 s of a reused worker's fixed cost.
Python 3.12 made the re-read lazy (gh-103200). This module backports the
effect: an archive is re-read only when its ``(st_mtime_ns, st_size)``
differs from the last read, so a rewritten archive still imports its new
modules. Importing ``geomesa_sql_spark`` installs it, so every Python
worker that runs an engine UDF patches itself on its first engine task
and keeps the patch while it is reused. On Python >= 3.12 nothing is
changed.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) of the archive as last read
_read_at: dict[str, tuple[int, int]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


if sys.version_info < (3, 12):
    _reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self) -> None:
        """Reload the archive's file data only if the archive changed
        since it was last read."""
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and _read_at.get(self.archive) == stamp:
            self._files = files
            return
        # stat before the read: a write racing it leaves an older
        # stamp, so the next call reads again
        _reread(self)
        if stamp is None or self.archive not in zipimport._zip_directory_cache:
            _read_at.pop(self.archive, None)
        else:
            _read_at[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches
