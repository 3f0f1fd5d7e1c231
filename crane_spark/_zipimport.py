"""Read each zip archive on ``sys.path`` once per change, not once per call.

On CPython < 3.13, ``zipimporter.invalidate_caches`` re-reads the whole
zip directory eagerly, and ``importlib.invalidate_caches()`` calls it on
every zipimporter in ``sys.path_importer_cache``. A PySpark Python worker
runs that at the start of every call (``worker_util.setup_spark_files``),
and workers import pyspark from ``pyspark.zip`` (1,328 entries, one
importer per package directory), so each call re-read it 15-17 times:
100-180 ms of CPU per worker call (TUNING.md, "Python worker round
trips"). 3.13 made the method lazy, so there nothing is patched.

The gate keeps the semantics: an archive whose ``(st_ino, st_size,
st_mtime_ns)`` is unchanged since its last read, and whose directory is
still in ``zipimport._zip_directory_cache``, reuses that directory; a
rewritten or removed archive goes through the original method, which
re-reads it or drops it.
"""

from __future__ import annotations

import os
import sys
import zipimport

if sys.version_info < (3, 13):
    _eager = zipimport.zipimporter.invalidate_caches
    _read_at: dict[str, tuple[int, int, int] | None] = {}

    def _invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            key = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None and _read_at.get(self.archive) == key:
            self._files = files
            return
        _eager(self)
        _read_at[self.archive] = key

    zipimport.zipimporter.invalidate_caches = _invalidate_caches
